package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, when}
import graft.ext.{BloomDedup, Dedup, Events, Graph, LmFilter, Multimodal, Packing, Sampling, Similarity, TextAnalysis}

/** LLM-data-pipeline extension queries (SURVEY.md §2.8) — dedup, similarity
  * search, text analysis, event windows, multimodal plumbing. Every entry
  * except the HLL one carries a DuckDB oracle; the oracle recomputes the
  * same deterministic arithmetic (exact-integer cores + IEEE divisions), so
  * results hash-match bit-for-bit. */
object ExtQueries {

  /** Content fingerprint of a parquet table path — md5 of the sorted
    * (name, size, mtime, footer-sample) listing, or of the single file's
    * own tuple when the table is one file (the driver fixtures are single
    * files; listFiles() on a file is null, and an empty-listing fingerprint
    * would collide EVERY fixture onto one cache entry — sf0.001 and sf0.01
    * both hold 500 docs with ids 0..499 but different text, so the
    * collision is silent wrong answers, not an error). The footer sample
    * (last 512 bytes — parquet keeps column stats/min-max there) defends
    * against a fixture restored with preserved size AND mtime (`cp -p`, CI
    * cache restore) but different content, which a metadata-only key would
    * serve a stale index for. Still cheap: one bounded read per file,
    * changes whenever the fixture is regenerated — the band-store cache
    * key. */
  private def pathFingerprint(path: String): String = {
    def footerSample(f: java.io.File, n: Int = 512): String = {
      val raf = new java.io.RandomAccessFile(f, "r")
      try {
        val take = math.min(n.toLong, raf.length()).toInt
        val buf = new Array[Byte](take)
        raf.seek(raf.length() - take)
        raf.readFully(buf)
        java.security.MessageDigest.getInstance("MD5").digest(buf)
          .map("%02x".format(_)).mkString
      } finally raf.close()
    }
    val f = new java.io.File(path)
    require(f.exists(), s"cannot fingerprint missing path $path")
    // recurse: a hive-partitioned table is a directory of directories —
    // the fingerprint must reach the leaf files, not stop at subdir names
    def walk(x: java.io.File): Array[java.io.File] =
      if (x.isFile) Array(x)
      else Option(x.listFiles()).getOrElse(Array.empty).flatMap(walk)
    val files = walk(f).sortBy(_.getAbsolutePath)
    require(files.nonEmpty, s"no files to fingerprint at $path")
    val entries = files.map(x =>
      s"${x.getName}:${x.length}:${x.lastModified}:${footerSample(x)}")
    java.security.MessageDigest.getInstance("MD5")
      .digest(entries.mkString("|").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
  }

  /** Shared store-cache lifecycle: sweep, build, atomic-publish.
    *
    * The /tmp cache is content-keyed (fixture fingerprint in the dir
    * name), so superseded fixtures leave orphan stores behind, and a
    * crash between build and the atomic move strands a `.build-XXXX`
    * directory. Both leak indefinitely without a sweep. Before building
    * we delete, for THIS prefix only, (a) store dirs whose fingerprint
    * is not the current one and (b) `.build-*` leftovers — in both cases
    * only when older than [[sweepAgeMs]], so a concurrent builder's
    * in-flight tmp dir or a racing run against a just-regenerated
    * fixture is never yanked out from under it.
    *
    * Build-then-atomic-rename: two concurrent invocations (parallel
    * test/bench/verify runs) could both observe the store missing;
    * racing mode(overwrite) writes into ONE directory can interleave
    * into a corrupt mixed store that is then cached forever. Each
    * builder writes its own unique dir and publishes it with an atomic
    * move; the loser of the race discards its copy. */
  private val sweepAgeMs = 2L * 3600 * 1000
  private def cachedStore(prefix: String, fixturePath: String,
                          successRel: String)(build: String => Unit): String = {
    val store = s"/tmp/${prefix}_${pathFingerprint(fixturePath)}"
    val storeName = new java.io.File(store).getName
    val now = System.currentTimeMillis()
    Option(new java.io.File("/tmp").listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith(prefix + "_") && f.getName != storeName)
      .filter(f => now - f.lastModified() > sweepAgeMs)
      .foreach(graft.ops.Scale.deleteRecursively)
    val storePath = java.nio.file.Paths.get(store)
    if (!java.nio.file.Files.exists(storePath.resolve(successRel))) {
      val tmp = java.nio.file.Paths.get(
        s"$store.build-${java.util.UUID.randomUUID().toString.take(8)}")
      build(tmp.toString)
      try java.nio.file.Files.move(tmp, storePath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.nio.file.FileSystemException =>
          // a concurrent builder published first — use theirs, drop ours
          require(java.nio.file.Files.exists(storePath.resolve(successRel)),
            s"store publish failed and no winner exists at $store")
          graft.ops.Scale.deleteRecursively(tmp.toFile)
      }
    }
    // refresh the store's age on EVERY use, not just at build: the sweep
    // above keys on lastModified, and a long-lived reader (a concurrent
    // bench against an older fixture generation) must never have its
    // store yanked mid-job just because it was BUILT >2h ago
    storePath.toFile.setLastModified(System.currentTimeMillis())
    store
  }

  private def docs(s: SparkSession, dir: String)   = Tables.load(s, dir, "documents")
  private def embs(s: SparkSession, dir: String)   = Tables.load(s, dir, "embeddings")
  private def events(s: SparkSession, dir: String) = Tables.load(s, dir, "events")
  private[graft] def sketchStore(s: SparkSession, dir: String) = cachedStore("graft_sketch_store_v1",
    s"$dir/events.parquet", "_SUCCESS")(graft.ext.SketchStore.buildSketchStore(events(s, dir), _))
  private def histStore(s: SparkSession, dir: String) = cachedStore("graft_hist_store_v1",
    s"$dir/events.parquet", "_SUCCESS")(graft.ext.HistStore.buildHistStore(events(s, dir), _))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // E3 — text analysis
    "text_quality"     -> ((s, dir) => TextAnalysis.quality(docs(s, dir))),
    "text_tokens"      -> ((s, dir) => TextAnalysis.tokenCounts(docs(s, dir))),
    "text_fingerprint" -> ((s, dir) => TextAnalysis.fingerprint(docs(s, dir))),
    "text_df_index"    -> ((s, dir) => TextAnalysis.dfIndex(docs(s, dir))),
    // per-source distinctive terms: tf x integer rarity (1e6 div df)
    "text_tfidf_terms" -> ((s, dir) => TextAnalysis.tfidfTerms(docs(s, dir))),
    // threshold-tuning report: simhash P/R vs exact Jaccard>=0.8 per bar
    "dedup_simhash_eval" -> ((s, dir) => Dedup.simhashPrEval(docs(s, dir))),
    "text_langid"      -> ((s, dir) => TextAnalysis.langId(docs(s, dir))),
    // langid eval: per (actual, predicted) confusion counts + recall
    "text_langid_confusion" -> ((s, dir) => TextAnalysis.langidConfusion(docs(s, dir))),
    // supervised quality filter: closed-form integer weights over hashed
    // content+structural presence features, labels = the shipped Gopher
    // rule, held-out split scored + confusion eval — training replays
    // exactly in both engines (no iterative optimizer)
    "text_quality_model"      -> ((s, dir) => TextAnalysis.qualityModel(docs(s, dir))),
    "text_quality_model_eval" -> ((s, dir) => TextAnalysis.qualityModelEval(docs(s, dir))),
    // the DEPLOYABLE filter: score EVERY doc with the train-fold weights
    // (labels parameterizable — default is the shipped Gopher gate)
    "text_quality_score"      -> ((s, dir) => TextAnalysis.qualityScore(docs(s, dir))),
    // held-out calibration curve of the trained scorer: fixed-width score
    // bins (stateless per-row expr, never a global quantile rank) vs the
    // label pass rate — the monotonicity check run before trusting the
    // score as a filter threshold
    "text_quality_calibration" -> ((s, dir) =>
      TextAnalysis.qualityCalibration(docs(s, dir))),
    // the MODEL STORE serving path: train once + publish atomically
    // (cachedStore), then score the corpus with zero training work — one
    // broadcast join of the <=dim-row stored weights. Same oracle chain
    // as text_quality_score minus the trainer's fold flag
    "text_quality_score_stored" -> ((s, dir) => {
      val d = docs(s, dir)
      val store = cachedStore("graft_qmodel_store_v1",
        s"$dir/documents.parquet", "_SUCCESS") { tmp =>
        TextAnalysis.buildQualityModelStore(d, tmp)
      }
      TextAnalysis.scoreAgainstModelStore(d, store)
    }),
    "text_chunk"       -> ((s, dir) => TextAnalysis.chunk(docs(s, dir))),
    "text_length_stats" -> ((s, dir) => TextAnalysis.lengthStats(docs(s, dir))),
    "text_repetition"  -> ((s, dir) => TextAnalysis.repetition(docs(s, dir))),
    "text_winnow"       -> ((s, dir) => TextAnalysis.winnow(docs(s, dir))),
    // hash-verified via the checked projection: byte_len exact per doc,
    // deflate bounded + ratio-consistent via the sanity flag; the raw zlib
    // byte count is the one documented exclusion (implementation-specific)
    "text_compress_ratio" -> ((s, dir) => TextAnalysis.compressRatioChecked(docs(s, dir))),
    "text_search"         -> ((s, dir) => TextAnalysis.search(docs(s, dir))),
    // real BM25 (ln idf + length norm), 9-dp-rounded terms summed exactly
    "text_bm25"           -> ((s, dir) => TextAnalysis.bm25(docs(s, dir))),
    // hashing-trick doc vectors: signed md5 buckets, sparse long format
    "text_feature_hash"   -> ((s, dir) => TextAnalysis.featureHash(docs(s, dir))),
    "text_winnow_pairs" -> ((s, dir) => TextAnalysis.winnowPairs(docs(s, dir))),
    // the winnow family's daily shape: incoming docs sharing >= minShared
    // prints with the HISTORICAL corpus (df cap from history only)
    "text_winnow_incremental" -> ((s, dir) =>
      TextAnalysis.winnowIncremental(docs(s, dir))),
    // the same relation against the PRECOMPUTED print store, exercising
    // the full build(odd half) + append(even half) lifecycle per fixture
    // — multiplicity-preserving rows, so append = rebuild for any probe
    "text_winnow_stored" -> ((s, dir) => {
      val d = docs(s, dir)
      val hist = d.filter(col("doc_id") % 7 =!= 0)
      val store = cachedStore("graft_winnow_store_v1",
        s"$dir/documents.parquet", "prints/_SUCCESS") { tmp =>
        TextAnalysis.buildWinnowStore(hist.filter(col("doc_id") % 2 === 1), tmp)
        TextAnalysis.appendToWinnowStore(hist.filter(col("doc_id") % 2 === 0), tmp)
      }
      TextAnalysis.winnowAgainstStore(d.filter(col("doc_id") % 7 === 0), store)
    }),
    "text_source_drift" -> ((s, dir) => TextAnalysis.sourceDrift(docs(s, dir))),
    // canonicalization fingerprint (casefold/strip/collapse -> md5)
    "text_normalize"    -> ((s, dir) => TextAnalysis.normalize(docs(s, dir))),
    // tokenizer vocab: top-K corpus tokens with frequency share
    "text_vocab"        -> ((s, dir) => TextAnalysis.vocab(docs(s, dir))),
    // Zipf rank-frequency fit: slope/intercept/R^2 of the log-log line
    "text_zipf"         -> ((s, dir) => TextAnalysis.zipf(docs(s, dir))),
    // one BPE merge round: top adjacent-pair merge candidates (tokenizer training)
    "text_bpe_merges"   -> ((s, dir) => TextAnalysis.bpeMerges(docs(s, dir))),
    // tokenizer ENCODE: the learned merges applied greedily in rank order;
    // full encoding hash-verified via the per-doc md5
    "text_bpe_encode"   -> ((s, dir) => TextAnalysis.bpeEncode(docs(s, dir))),
    // OOV audit: corpus coverage of top-{10,100,1000} vocabularies
    "text_vocab_coverage" -> ((s, dir) => TextAnalysis.vocabCoverage(docs(s, dir))),
    // cross-doc template detector: share of a doc's bigrams unique to it
    "text_novelty"      -> ((s, dir) => TextAnalysis.novelty(docs(s, dir))),
    // bigram-LM argmax head: top-3 successors for the 100 hottest contexts
    "text_next_token"   -> ((s, dir) => TextAnalysis.nextToken(docs(s, dir))),
    // perplexity-style signal: per-doc cross-entropy under the corpus LM
    "text_unigram_ce"   -> ((s, dir) => TextAnalysis.unigramCE(docs(s, dir))),
    // CCNet-style interpolated bigram LM perplexity filter
    "text_bigram_ce"    -> ((s, dir) => TextAnalysis.bigramCE(docs(s, dir))),
    // curriculum schedule: per-lang quality ntiles -> bucket manifest
    "pipeline_curriculum" -> ((s, dir) => TextAnalysis.curriculum(docs(s, dir))),
    // E1 — dedup
    "dedup_exact"            -> ((s, dir) => Dedup.exact(docs(s, dir))),
    "dedup_ngram_jaccard"    -> ((s, dir) => Dedup.ngramJaccard(docs(s, dir))),
    // asymmetric containment: the doc-inside-doc (quote/snippet) detector
    "dedup_containment"      -> ((s, dir) => Dedup.containment(docs(s, dir))),
    "dedup_minhash_lsh"      -> ((s, dir) => Dedup.minhashLsh(docs(s, dir))),
    // the character-level certificate on the LSH pairs: capped
    // Levenshtein separates true copies from token reorderings
    "dedup_edit_verified"    -> ((s, dir) => Dedup.editDistanceVerified(docs(s, dir))),
    // ...and its decision layer: keeper + count per copy-edge component
    // (reorderings stay out of the clusters — a distinct word order is a
    // distinct training document)
    "dedup_edit_clusters"    -> ((s, dir) => Dedup.editDistanceClusters(docs(s, dir))),
    // keep-most-complete keeper rule: longest copy wins a truncation
    // family, min doc_id breaks ties
    "dedup_keepers_ranked"   -> ((s, dir) => Dedup.keepersRanked(docs(s, dir))),
    "dedup_simhash"          -> ((s, dir) => Dedup.simhash(docs(s, dir))),
    "dedup_simhash_pairs"    -> ((s, dir) => Dedup.simhashPairs(docs(s, dir))),
    // duplication STRUCTURE: per-doc triangle count + clustering coeff
    // over the simhash near-dup graph (degree-ordered orientation)
    "graph_triangles"        -> ((s, dir) =>
      Graph.triangles(Dedup.simhashPairs(docs(s, dir)))),
    // the 100x-scale guard, BOTH caps on: band-bucket density cap of 64
    // in the edge build (a template family of m docs collides on every
    // band — pair output is inherently Θ(m²) without it; at sf10 the
    // uncapped pair build was the whole soak's bottleneck) plus the
    // per-apex wedge budget of 8 (work O(n·64) regardless of density).
    // Documented undercounts at over-cap buckets/apexes — the oracle
    // replays BOTH caps exactly
    "graph_triangles_capped" -> ((s, dir) =>
      Graph.triangles(Dedup.simhashPairs(docs(s, dir), maxBandBucket = Some(64)),
        maxOutDeg = Some(8))),
    // degree histogram of the near-dup graph (template-farm shape report)
    "graph_degree_hist"      -> ((s, dir) =>
      Graph.degreeHist(Dedup.simhashPairs(docs(s, dir)))),
    // integer-quantized PageRank: the canonical-copy centrality read
    "graph_pagerank"         -> ((s, dir) =>
      Graph.pagerank(Dedup.simhashPairs(docs(s, dir)))),
    // the scale-path twins over the band-capped edge relation: identical
    // algorithms, edge build bounded at 64 docs per band bucket so the
    // pair stage stays near-linear on template-heavy corpora (the sf10
    // soak shape); over-cap families are cluster-keeper business, not
    // exhaustive graph edges — the oracle replays the cap
    "graph_pagerank_capped"  -> ((s, dir) =>
      Graph.pagerank(Dedup.simhashPairs(docs(s, dir), maxBandBucket = Some(64)))),
    "graph_degree_hist_capped" -> ((s, dir) =>
      Graph.degreeHist(Dedup.simhashPairs(docs(s, dir), maxBandBucket = Some(64)))),
    // component census over the capped graph: per-cluster node/edge counts
    // + density (near-clique template farms vs stringy closure chains)
    "graph_components"       -> ((s, dir) =>
      Graph.components(Dedup.simhashPairs(docs(s, dir), maxBandBucket = Some(64)))),
    "dedup_embedding_cosine" -> ((s, dir) => Dedup.embeddingCosine(embs(s, dir))),
    "dedup_source_overlap"   -> ((s, dir) => Dedup.sourceOverlap(docs(s, dir))),
    "dedup_clusters"         -> ((s, dir) => Dedup.minhashClusters(docs(s, dir))),
    "dedup_keepers"          -> ((s, dir) => Dedup.keepers(docs(s, dir))),
    "dedup_incremental"      -> ((s, dir) => Dedup.incremental(docs(s, dir))),
    // substring-level dedup: cross-doc duplicated 8-token windows merged
    // into maximal per-doc spans (cut-the-span vs drop-the-doc signal)
    "dedup_spans"            -> ((s, dir) => Dedup.substringSpans(docs(s, dir))),
    // C4-style disjoint-unit dedup: 15-word chunks, first-occurrence
    // keepers, per-doc reassembled clean text
    "dedup_paragraphs"       -> ((s, dir) => Dedup.paragraphs(docs(s, dir))),
    // exact cross-source boilerplate matrix: distinct shared 8-token
    // windows per source pair (the minhash sourceOverlap's exact twin)
    "dedup_span_overlap"     -> ((s, dir) => Dedup.spanOverlap(docs(s, dir))),
    // semantic-dedup decision: components over the >=0.4-cosine pair
    // relation (dedup_embedding_cosine's bar) -> one keeper per cluster
    "dedup_embedding_keepers" -> ((s, dir) => Dedup.embeddingKeepers(embs(s, dir))),
    // SemDeDup (cluster-SCOPED semantic dedup): duplicate groups only
    // within each quantizer cluster, keeper = the member least similar to
    // its centroid (the paper's keep-the-exemplar rule, ties -> low id)
    "pipeline_semdedup"      -> ((s, dir) => Similarity.semDedup(embs(s, dir))),
    // the BINDING density-guard twin (the graph_*_capped discipline):
    // cap=30 genuinely drops the fixture's over-cap clusters from pair
    // scoring (10 rows vs 29 uncapped at sf0.01), oracle replays the cap
    // as a HAVING over the assignment
    "pipeline_semdedup_capped" -> ((s, dir) =>
      Similarity.semDedup(embs(s, dir), maxClusterSize = Some(30))),
    // the paper's actual recipe: clusters from CONVERGED k-means (the
    // lloydFinal member-sum centroids), same core downstream
    "pipeline_semdedup_trained" -> ((s, dir) =>
      Similarity.semDedupTrained(embs(s, dir))),
    // the metric-pruned twins: identical exact results (recall-1 angular
    // triangle-inequality prune over IVF lists), sub-quadratic tile work
    // on clustered corpora — the 100-TB default for semantic dedup
    "dedup_embedding_cosine_pruned" -> ((s, dir) =>
      Dedup.embeddingCosinePruned(embs(s, dir))),
    "dedup_embedding_keepers_pruned" -> ((s, dir) =>
      Dedup.embeddingKeepersPruned(embs(s, dir))),
    // the stored-index twin: build the historical band store once per
    // fixture CONTENT (the cache key fingerprints the parquet file listing
    // — name/size/mtime — so a regenerated fixture at the same path can
    // never be served a stale index), then run the daily-increment query
    // against it; the returned plan scans the STORE for the historical
    // side, never the historical documents text
    "dedup_incremental_stored" -> ((s, dir) => {
      val d = docs(s, dir)
      val store = cachedStore("graft_band_store_v2", s"$dir/documents.parquet",
        "hashes/_SUCCESS")(tmp =>
        Dedup.buildBandStore(d.filter(col("doc_id") % 7 =!= 0), tmp))
      Dedup.incrementalStored(d.filter(col("doc_id") % 7 === 0), store)
    }),
    // substring-span dedup against the stored window-hash index: the
    // incremental twin of dedup_spans (historical text never rescanned —
    // the probe reads the 8-byte hash store); same content-keyed cache +
    // atomic-publish discipline as the band store above
    "dedup_spans_stored" -> ((s, dir) => {
      val d = docs(s, dir)
      val store = cachedStore("graft_span_store_v1", s"$dir/documents.parquet",
        "winhashes/_SUCCESS")(tmp =>
        Dedup.buildSpanStore(d.filter(col("doc_id") % 7 =!= 0), tmp))
      Dedup.spansAgainstStore(d.filter(col("doc_id") % 7 === 0), store)
    }),
    // incremental paragraph dedup against the stored chunk-hash index —
    // the disjoint-unit twin of dedup_spans_stored; same content-keyed
    // cache + atomic-publish discipline
    "dedup_paragraphs_stored" -> ((s, dir) => {
      val d = docs(s, dir)
      val store = cachedStore("graft_pchunk_store_v1", s"$dir/documents.parquet",
        "pchunks/_SUCCESS")(tmp =>
        Dedup.buildParagraphStore(d.filter(col("doc_id") % 7 =!= 0), tmp))
      Dedup.paragraphsAgainstStore(d.filter(col("doc_id") % 7 === 0), store)
    }),
    // the daily front-door composed into ONE plan: per incoming doc the
    // exact/near/fresh verdict against history, with the best near match
    // reported — exact keys + banded-LSH near-dup sharing one incoming scan
    "pipeline_ingest_triage" -> ((s, dir) => Dedup.ingestTriage(docs(s, dir))),
    // the STORED triage — the shape the daily front door actually runs:
    // exact verdict = Bloom-store gate + broadcast key confirmation, near
    // verdict = band-store probe; history text never rescanned
    // (plan-locked). Exercises the full lifecycle per fixture: build on
    // the odd history half, append the even half — build(A) + append(B)
    // covers exactly history = A union B, so the in-line triage relation
    // is the oracle for both entries.
    "pipeline_ingest_triage_stored" -> ((s, dir) => {
      val d = docs(s, dir)
      val hist = d.filter(col("doc_id") % 7 =!= 0)
      val store = cachedStore("graft_triage_store_v1",
        s"$dir/documents.parquet", "keys/_SUCCESS") { tmp =>
        Dedup.buildTriageStore(hist.filter(col("doc_id") % 2 === 1), tmp,
          expectedItems = math.max(hist.count() * 2, 1024L))
        Dedup.appendToTriageStore(hist.filter(col("doc_id") % 2 === 0), tmp)
      }
      Dedup.ingestTriageStored(d.filter(col("doc_id") % 7 === 0), store)
    }),
    // Bloom-gated exact incremental dedup (BloomDedup): the history
    // collapses to a bit array and the increment is gated by a stateless
    // codegen'd probe — no join, no shuffle, no history scan on the
    // production path. The gate output confirms every verdict exactly
    // (exact_dup via the key join) and pins the two one-sided guarantees
    // as oracle-checked constants: missed_by_bloom FALSE (no false
    // negatives), fp_within_bound TRUE (measured FP rate <= 3x fpp).
    "dedup_bloom_gate" -> ((s, dir) => {
      val d = docs(s, dir)
      val hist = d.filter(col("doc_id") % 7 =!= 0)
      // size the filter FROM the history slice (×2 headroom), never a
      // fixed literal — a fixture outgrowing a hardcoded estimate would
      // silently degrade the effective fpp past the pinned
      // fp_within_bound oracle constant. The count is one narrow
      // doc_id-column scan, trivial next to the gate itself.
      BloomDedup.exactBloomGate(hist, d.filter(col("doc_id") % 7 === 0),
        expectedItems = math.max(hist.count() * 2, 1024L))
    }),
    // the stored twin, exercising the FULL store lifecycle per fixture:
    // build on the odd history half, append the even half (bitwise OR —
    // append = rebuild byte-for-byte, spec-asserted), then gate the
    // increment against the merged store. Same oracle as the in-line gate
    // because build(A) + append(B) covers exactly history = A union B.
    "dedup_bloom_stored" -> ((s, dir) => {
      val d = docs(s, dir)
      val hist = d.filter(col("doc_id") % 7 =!= 0)
      val store = cachedStore("graft_bloom_store_v2",
        s"$dir/documents.parquet", "_SUCCESS") { tmp =>
        // sized from the FULL history the merged filter will hold (×2
        // headroom) — build and append must share one sizing, and that
        // sizing must cover the union, not the build half
        BloomDedup.buildBloomStore(hist.filter(col("doc_id") % 2 === 1),
          tmp, expectedItems = math.max(hist.count() * 2, 1024L))
        BloomDedup.appendToBloomStore(hist.filter(col("doc_id") % 2 === 0), tmp)
      }
      BloomDedup.gateStored(d.filter(col("doc_id") % 7 === 0), store, hist)
    }),
    // E2 — similarity search
    "similarity_topk" -> ((s, dir) => Similarity.bruteForceTopK(embs(s, dir))),
    // radius search: all neighbors within cosine >= 0.3 — the unranked
    // query mode; scan → score → filter, no per-query window at all
    "similarity_range_search" -> ((s, dir) => Similarity.rangeSearch(embs(s, dir))),
    // nearest-centroid classifier eval over the labeled embeddings:
    // confusion matrix + per-class recall on the held-out %5 slice
    "embedding_classifier_eval" -> ((s, dir) =>
      Similarity.centroidClassifierEval(embs(s, dir))),
    // contrastive-training negatives: near-dup ceiling, then ranks 6..15
    "similarity_hard_negatives" -> ((s, dir) => Similarity.hardNegatives(embs(s, dir))),
    // index-quality measurement: recall@5 of lsh/ivf vs the exact baseline
    "similarity_recall_eval" -> ((s, dir) => Similarity.recallEval(embs(s, dir))),
    "similarity_lsh"  -> ((s, dir) => Similarity.lshTopK(embs(s, dir))),
    // corpus-wide k-NN graph: every vector's top-3 from its SRP bucket
    // ring — the all-vectors lshTopK (no broadcast possible: the query
    // set IS the corpus; shuffled 8-byte-bucket equi-join instead)
    "similarity_knn_graph" -> ((s, dir) => Similarity.knnGraph(embs(s, dir))),
    // the scale-path twin: buckets above 64 members are dropped from
    // candidate generation (per-bucket pair work is Θ(m²); a mega-bucket
    // is a dense cluster the hash can't split — cluster-path business);
    // members keep neighbors found via their under-cap ring probes
    "similarity_knn_graph_capped" -> ((s, dir) =>
      Similarity.knnGraph(embs(s, dir), maxBucket = Some(64))),
    // the cap's measured recall cost: exact-vs-capped pair overlap in one
    // summary row — run this on a sample before trusting the cap at scale
    "similarity_knn_recall" -> ((s, dir) => Similarity.knnCapRecall(embs(s, dir))),
    "similarity_ivf"  -> ((s, dir) => Similarity.ivfTopK(embs(s, dir))),

    // two-level coarse quantizer: argmax leader (g dots), then argmax
    // within the leader's member group (~nList/g dots) — the measured
    // scale path past the flat quantizer's O(nList·d) assignment wall
    // (BENCH_sf10 r11_quantizer_ceiling); probes stay within the query's
    // group, both levels replayed exactly by the oracle
    "similarity_ivf_hier" -> ((s, dir) => Similarity.ivfHierTopK(embs(s, dir))),
    // the stored IVF index, exercising the FULL lifecycle per fixture:
    // build on vec_id < 300 (covers the deterministic [100,116) quantizer
    // seeds), append the rest against the frozen centroids (O(increment),
    // append = rebuild — assignment is order-independent), then probe with
    // the same 10-query batch. The corpus embeddings are never rescanned
    // at probe time (plan-locked); same oracle as the in-line ivf
    "similarity_ivf_stored" -> ((s, dir) => {
      val e = embs(s, dir)
      val store = cachedStore("graft_ivf_store_v1",
        s"$dir/embeddings.parquet", "lists/_SUCCESS") { tmp =>
        Similarity.buildIvfStore(e.filter(col("vec_id") < 300), tmp)
        Similarity.appendToIvfStore(e.filter(col("vec_id") >= 300), tmp)
      }
      Similarity.ivfAgainstStore(e.filter(col("vec_id") < 10), store)
    }),
    // the store-served cluster ASSIGNMENT as a public relation: every
    // corpus vector labeled through the store's frozen quantizer in one
    // narrow folded-literal pass (no join/shuffle/state — the projection
    // VecStreams.assignStream serves on the vector stream; one definition)
    "similarity_assign_stored" -> ((s, dir) => {
      val e = embs(s, dir)
      val store = cachedStore("graft_ivf_store_v1",
        s"$dir/embeddings.parquet", "lists/_SUCCESS") { tmp =>
        Similarity.buildIvfStore(e.filter(col("vec_id") < 300), tmp)
        Similarity.appendToIvfStore(e.filter(col("vec_id") >= 300), tmp)
      }
      Similarity.assignAgainstIvfStore(e, store).orderBy("vec_id")
    }),
    // the hier-built store: lists assigned through the two-level quantizer
    // at build AND append (the scheme is recorded in hier.txt — the
    // frozen-quantizer contract covers the assignment function), probe
    // replays the hier probe → the relation is ivfHierTopK's, so the hier
    // oracle proves build, append, and probe in one hash
    "similarity_ivf_hier_stored" -> ((s, dir) => {
      val e = embs(s, dir)
      val store = cachedStore("graft_ivf_hier_store_v1",
        s"$dir/embeddings.parquet", "lists/_SUCCESS") { tmp =>
        Similarity.buildIvfStore(e.filter(col("vec_id") < 300), tmp, nGroups = 4)
        Similarity.appendToIvfStore(e.filter(col("vec_id") >= 300), tmp)
      }
      Similarity.ivfAgainstStore(e.filter(col("vec_id") < 10), store)
    }),
    "embedding_kmeans" -> ((s, dir) => Similarity.kmeansStep(embs(s, dir))),
    "embedding_kmeans_run" -> ((s, dir) => Similarity.kmeansRun(embs(s, dir))),
    // HIER-trained k-means: every Lloyd round assigns through the
    // two-level quantizer (leaders refolded per round from the same
    // bounded collect) — per-round arithmetic O((g + nList/g)·d) per
    // vector instead of the flat O(nList·d) the r11 ceiling receipt
    // measured as the training wall; nGroups=1 ≡ flat (spec)
    "embedding_kmeans_run_hier" -> ((s, dir) =>
      Similarity.kmeansRunHier(embs(s, dir), nGroups = 4)),
    // train-then-search: kmeansRun's converged centroids as the IVF
    // quantizer — the two proven parts composed into the pipeline users run
    "pipeline_ann_trained" -> ((s, dir) => Similarity.ivfTrainedTopK(embs(s, dir))),
    // the flat arithmetic retired from BOTH halves: hier Lloyd training
    // + the hier assign/probe query path over the converged centroids
    "pipeline_ann_trained_hier" -> ((s, dir) =>
      Similarity.ivfTrainedHierTopK(embs(s, dir), nGroups = 4)),
    // SAMPLED training: the Lloyd rounds fit on the deterministic
    // md5-bucket 40% slice (+ seeds) while the assignment/probe path
    // still covers the FULL corpus — at 100 TB quantizer fitting is a
    // few-percent statistics job; only the final assignment touches
    // every vector
    "pipeline_ann_sampled_trained" -> ((s, dir) =>
      Similarity.ivfTrainedHierTopK(embs(s, dir), nGroups = 4,
        trainSamplePct = 40)),
    "embedding_kmeans_sampled" -> ((s, dir) =>
      Similarity.kmeansRunHier(embs(s, dir), nGroups = 4, trainSamplePct = 40)),
    // the TRAINED index stored: hier Lloyd training once, converged
    // centroids published as the frozen quantizer, corpus assigned into
    // clustered lists through the same two-level scheme the probe
    // replays — the full train → publish → serve lifecycle; probe
    // relation ≡ the in-line trained-hier search, so one oracle proves
    // train, publish, and probe in one hash
    "pipeline_ann_trained_hier_stored" -> ((s, dir) => {
      val e = embs(s, dir)
      val store = cachedStore("graft_ivf_trained_hier_store_v1",
        s"$dir/embeddings.parquet", "lists/_SUCCESS") { tmp =>
        Similarity.buildTrainedIvfStore(e, tmp, nGroups = 4)
      }
      Similarity.ivfAgainstStore(e.filter(col("vec_id") < 10), store)
    }),
    // BOTH ANN stages trained: Lloyd coarse quantizer + per-subspace
    // Lloyd PQ codebooks, composed into the ivf+pq ADC query path
    "similarity_ivfpq_trained" -> ((s, dir) => Similarity.ivfPqTrainedTopK(embs(s, dir))),
    "embedding_cluster_sample" -> ((s, dir) => Similarity.clusterSample(embs(s, dir))),
    // data-quality triage: bottom-20 vectors by nearest-centroid cosine
    "embedding_outliers" -> ((s, dir) => Similarity.outliers(embs(s, dir))),
    // compressed-domain ANN: 8x16 PQ codebook, ADC integer scoring
    "similarity_pq" -> ((s, dir) => Similarity.pqTopK(embs(s, dir))),
    // codebook-free SQ8: per-dim affine int8 codes, exact-integer ADC
    "similarity_sq" -> ((s, dir) => Similarity.sqTopK(embs(s, dir))),
    // the production composition: IVF list pruning + PQ ADC scoring
    "similarity_ivfpq" -> ((s, dir) => Similarity.ivfPqTopK(embs(s, dir))),
    // RAG hybrid: rare-term text recall reranked by embedding cosine
    "pipeline_hybrid_search" -> ((s, dir) =>
      Similarity.hybridSearch(docs(s, dir), embs(s, dir))),
    // reciprocal-rank fusion: each retriever (rare-shingle text recall,
    // exact-cosine vector top-N) contributes its own ranked list; every
    // candidate scores sum(1/(60+rank)) over the lists that found it —
    // docs strong on EITHER signal surface, no score calibration needed
    "pipeline_hybrid_rrf" -> ((s, dir) =>
      Similarity.hybridRrf(docs(s, dir), embs(s, dir))),
    // E4/E5 — event analytics
    "events_sessionize"      -> ((s, dir) => Events.sessionize(events(s, dir))),
    // session Markov matrix: within-session next-event counts + P(to|from)
    "events_transitions"     -> ((s, dir) => Events.transitions(events(s, dir))),
    "events_session_window"  -> ((s, dir) => Events.sessionWindows(events(s, dir))),
    "events_tumbling"        -> ((s, dir) => Events.tumblingHourly(events(s, dir))),
    "events_sliding"         -> ((s, dir) => Events.slidingHourly(events(s, dir))),
    "events_json_props"      -> ((s, dir) => Events.jsonProps(events(s, dir))),
    "events_funnel"          -> ((s, dir) => Events.funnel(events(s, dir))),
    "events_retention"       -> ((s, dir) => Events.retention(events(s, dir))),
    // hash-verified via the checked projection: keys/counts/exact-distinct
    // exact, HLL estimate checked against its ±10% envelope; the raw
    // sketch value is the one documented exclusion (engine-specific)
    "events_approx_distinct" -> ((s, dir) => Events.approxDistinctChecked(events(s, dir))),
    // the mergeable-sketch STORE behind the same question: one HLL sketch
    // row per day, published atomically; a trailing-7-day distinct-user
    // report unions 7 tiny rows instead of re-shuffling 7 days of raw
    // events — the checked twin pins the estimate inside a 5% envelope
    // against the exact count the oracle replays
    "events_distinct_sketch_stored" -> ((s, dir) =>
      graft.ext.SketchStore.trailingDistinctChecked(events(s, dir), sketchStore(s, dir))),
    // the same store's AD-HOC range entry point: distinct users over an
    // arbitrary [start, end] day span — 14 sketch rows union to ONE row,
    // raw events untouched; exactness is the checked twin's job
    "events_distinct_sketch_range" -> ((s, dir) => graft.ext.SketchStore.rangeDistinctChecked(
      events(s, dir), sketchStore(s, dir), "2024-01-08", "2024-01-21")),
    // the sketch store's exact-deterministic QUANTILE sibling: per-day
    // fixed-width bin counts (an ADD fold — day splits sum exactly), a
    // trailing-7-day p50/p90/p99 report reads O(days x bins) tiny rows
    // instead of re-shuffling raw events; every column hash-matches the
    // oracle (no envelope — interpolation is exact math over exact counts)
    "events_quantile_hist_stored" -> ((s, dir) =>
      graft.ext.HistStore.trailingQuantiles(s, histStore(s, dir))),
    // the same store's AD-HOC range entry point: one row over an
    // arbitrary [start, end] day span, raw events untouched
    "events_quantile_hist_range" -> ((s, dir) =>
      graft.ext.HistStore.rangeQuantiles(s, histStore(s, dir), "2024-01-08", "2024-01-21")),
    // the monitor verdict on the stored report: day-over-day p50 shift +
    // >5% drift flag — what a distribution monitor pages on
    "events_quantile_drift" -> ((s, dir) =>
      graft.ext.HistStore.quantileDrift(s, histStore(s, dir))),
    "events_anomaly"         -> ((s, dir) => Events.anomalyHourly(events(s, dir))),
    "events_top_users"       -> ((s, dir) => Events.topUsers(events(s, dir))),
    // A/B readout: deterministic md5 hash cohorts, conversion lift + z
    "events_ab_lift"         -> ((s, dir) => Events.abLift(events(s, dir))),
    "events_funnel_steps"    -> ((s, dir) => Events.funnelSteps(events(s, dir))),
    // first-touch attribution: acquisition channel -> later-conversion rate
    "events_attribution"     -> ((s, dir) => Events.attribution(events(s, dir))),
    // straggler triage: heavy user_id keys with share + skew factor
    "events_key_skew"        -> ((s, dir) => graft.ops.Scale.keySkew(events(s, dir), "user_id")),
    // top consecutive event-type trigrams (user-journey paths)
    "events_paths"           -> ((s, dir) => Events.topPaths(events(s, dir))),
    // DAU / trailing-7-day WAU / stickiness engagement report
    "events_dau_wau"         -> ((s, dir) => Events.dauWau(events(s, dir))),
    // per-user trailing-7-day active-day count + gap since previous day
    "events_rolling_active"  -> ((s, dir) => Events.rollingActive(events(s, dir))),
    // session-level event-type co-occurrence pairs with lift
    "events_cooccurrence"    -> ((s, dir) => Events.cooccurrence(events(s, dir))),
    // the scale-guard twin: per-session first-seen type cap (binds at 3
    // on the 5-type fixture; production default for high type cardinality)
    "events_cooccurrence_capped" -> ((s, dir) => Events.cooccurrenceCapped(events(s, dir))),
    // signup-cohort time-to-convert percentiles (exact interpolated)
    "events_conversion_lag"  -> ((s, dir) => Events.conversionLag(events(s, dir))),
    // whale report: event-volume share of the p90/p95/p99 heaviest users
    "events_user_concentration" -> ((s, dir) => Events.userConcentration(events(s, dir))),
    // as-of join: each purchase matched to the latest prior click/view by
    // the same user (union-tag + ignore-nulls window — no join operator)
    "events_asof_join"       -> ((s, dir) => Events.asofJoin(events(s, dir))),
    // SCD2-style status history: per-user run-length validity intervals
    "events_status_history"  -> ((s, dir) => Events.statusHistory(events(s, dir))),
    // seasonal-naive forecast eval: MAE + signed bias per type
    "events_forecast_eval"   -> ((s, dir) => Events.forecastEval(events(s, dir))),
    // bucketized interval-overlap join: incident windows around the top-20
    // errors, blast-radius aggregates per window
    "events_range_join"      -> ((s, dir) => Events.rangeJoin(events(s, dir))),
    // multimodal plumbing
    "multimodal_features" -> ((s, dir) => Multimodal.featuresSql(docs(s, dir))),
    // exact media dedup: collapse bit-identical payloads by content hash
    "multimodal_dedup" -> ((s, dir) => Multimodal.dedupExact(Multimodal.ingest(docs(s, dir)))),
    "multimodal_frames"   -> ((s, dir) =>
      Multimodal.sampleFrames(Multimodal.ingest(docs(s, dir)))
        .orderBy("doc_id", "frame_no")),
    // shared-segment near-dup: frame-hash inverted-index join with a
    // hot-frame cap; containment score (pHash would swap in for frame md5)
    "multimodal_near_dedup" -> ((s, dir) => Multimodal.nearDedup(docs(s, dir))),

    // the dataset-card release artifact: corpus scale, length distribution,
    // language shares, source count, exact-dup + paragraph-dup health rates
    "pipeline_dataset_card" -> ((s, dir) => TextAnalysis.datasetCard(docs(s, dir))),
    // deterministic train/val/test assignment + stratified-sample report —
    // reproducible subsets via id-hash buckets, no RNG
    "pipeline_split_sample" -> ((s, dir) => Sampling.splitSummary(docs(s, dir))),

    // exact-quota per-language eval-set selection (md5 total order, no RNG)
    "sample_stratified" -> ((s, dir) => Sampling.stratifiedSample(docs(s, dir))),

    // DSIR importance weights: hashed unigram+bigram log-likelihood ratio
    // of the target slice vs the raw pool — high weight = target-like
    "pipeline_dsir_weights" -> ((s, dir) => Sampling.dsirWeights(docs(s, dir))),

    // the selection step: Gumbel-top-quantile importance resampling over
    // the DSIR weights (md5-derived Gumbel noise, quantile threshold —
    // never a global rank window)
    "pipeline_dsir_sample" -> ((s, dir) => Sampling.dsirSample(docs(s, dir))),

    // the DSIR model store: fit once, publish atomically, serve every
    // batch after via one broadcast join of the stored log-ratio table
    "pipeline_dsir_weights_stored" -> ((s, dir) => {
      val d = docs(s, dir)
      val store = cachedStore("graft_dsir_store_v1",
        s"$dir/documents.parquet", "logratios/_SUCCESS") { tmp =>
        Sampling.buildDsirStore(d, tmp)
      }
      Sampling.scoreAgainstDsirStore(d, store)
    }),

    // CCNet-style LM-perplexity filter: one interpolated bigram LM PER
    // LANGUAGE fit on the
    // %3 reference slice, per-doc cross-entropy via equi-joins against the
    // vocab²-bounded count tables (never a folded literal), per-lang
    // tertile cutoffs → head/middle/tail, keep head+middle
    "pipeline_perplexity_filter" ->
      ((s, dir) => LmFilter.perplexityFilter(docs(s, dir))),
    // the LM model store: train once, publish atomically (uni/big counts +
    // the CCNet-faithful STORED per-lang cutoffs + smoothing totals), serve
    // any batch after increment-locally — no percentile over history, no
    // refit; the in-line oracle proves fit, publish, and serve in one hash
    "pipeline_perplexity_stored" -> ((s, dir) => {
      val d = docs(s, dir)
      // v3: v1 counted unigrams over the term relation's `cur` side
      // (missing doc-initial tokens); v2 trained ONE mixed-language LM
      // (CCNet's models are per-language)
      val store = cachedStore("graft_lm_store_v3",
        s"$dir/documents.parquet", "_SUCCESS") { tmp =>
        LmFilter.buildLmStore(d, tmp)
      }
      LmFilter.scoreAgainstLmStore(d, store)
    }),
    // the NAMED-SHARD serve (CCNet's per-language processing unit): the
    // same stored model serves only the shard's language — docs filter to
    // it and the model relations prune to it, so the pushed `lang isin`
    // file-prunes the range-clustered uni/big to the shard's key-range
    // files (~2 of 8 model files at sf10 — BENCH_sf10 r13_lm_layout).
    // Same-lang left joins make the prune a pure scan reduction: the
    // oracle is the whole-corpus relation restricted to the shard
    "pipeline_perplexity_shard" -> ((s, dir) => {
      val d = docs(s, dir)
      val store = cachedStore("graft_lm_store_v3",
        s"$dir/documents.parquet", "_SUCCESS") { tmp =>
        LmFilter.buildLmStore(d, tmp)
      }
      LmFilter.scoreAgainstLmStore(d, store, langs = Some(Seq("de")))
    }),
    // leakage-free split: membership hashed on the near-dup CLUSTER id, so
    // a doc and its near-duplicates never straddle train/val/test
    "pipeline_cluster_split" -> ((s, dir) => Sampling.clusterSplit(docs(s, dir))),
    // deterministic training-order shuffle into shard files (seeded md5)
    "pipeline_epoch_shuffle" -> ((s, dir) => Sampling.epochShuffle(docs(s, dir))),
    // stride-scheduled source-balanced training order (vt = rank/n_src)
    "pipeline_interleave"    -> ((s, dir) => Sampling.interleave(docs(s, dir))),

    // eval-set n-gram decontamination (broadcast eval index, corpus scanned
    // once) and token-budget sequence packing (per-source prefix sums)
    "pipeline_decontaminate" -> ((s, dir) => Dedup.decontaminate(docs(s, dir))),
    "pipeline_pack"          -> ((s, dir) => Packing.pack(docs(s, dir))),
    // the pre-sharded pack twin: stream key (source, doc_id div 100) keeps
    // parallelism independent of source cardinality (the skewed-source fix)
    "pipeline_pack_sharded"  -> ((s, dir) => Packing.packSharded(docs(s, dir))),
    // source-mixture plan: exact largest-remainder token-budget apportionment
    "pipeline_mixture"       -> ((s, dir) => Packing.mixture(docs(s, dir))),
    // alpha-temperature source weights: the sampling rule mixture quotas
    // materialize (alpha=0.3 flattens toward the tail)
    "pipeline_source_temperature" -> ((s, dir) => Packing.sourceTemperature(docs(s, dir))),
    // packing-efficiency report: fragmentation + tail waste per source
    "pipeline_pack_stats"    -> ((s, dir) => Packing.packStats(docs(s, dir))),
    // embedding-geometry health: cosine histogram over a deterministic
    // stride-pair sample (collapse/anisotropy detector)
    "embedding_geometry"     -> ((s, dir) => Similarity.geometry(embs(s, dir))),
    // the plan APPLIED: per-source md5-ordered selection until quota covered
    "pipeline_mixture_sampled" -> ((s, dir) => Packing.mixtureSampled(docs(s, dir))),
    // global-budget quality selection: best docs first until the token
    // budget is covered (two-phase score-group plan, never a global window)
    "pipeline_quality_budget" -> ((s, dir) => Packing.qualityBudget(docs(s, dir))),
    "pipeline_corpus_stats"  -> ((s, dir) => TextAnalysis.corpusStats(docs(s, dir))),
    "pipeline_quality_prune" -> ((s, dir) => TextAnalysis.qualityPrune(docs(s, dir))),

    // multimodal -> embed -> ANN composite: ingest blobs, stub-embed to
    // 64-dim vectors (typed per-partition map — the model-batch shape),
    // exact cosine top-5 via the shared quantized scoring core. The
    // image-dedup pipeline end-to-end with a swappable encoder.
    "pipeline_embed_ann" -> ((s, dir) =>
      Similarity.bruteForceTopK(
        Multimodal.embedStub(Multimodal.ingest(docs(s, dir))), nQueries = 10, k = 5)),

    // TOPIC CARDS: label each embedding cluster with its top c-TF-IDF
    // terms (BERTopic's class-TF-IDF) — embed the corpus (stub encoder),
    // assign every doc to its argmax-cosine cluster, then score each
    // (cluster, term) as tf * ln(nClusters / df_clusters). The "what is
    // this cluster about" deliverable, composed from three proven parts
    // (embedStub + assignClusters + one vocab-bounded agg)
    "pipeline_topic_cards" -> ((s, dir) => {
      val d = docs(s, dir)
      val clusters = Similarity.assignClusters(
          Multimodal.embedStub(Multimodal.ingest(d)))
        .withColumnRenamed("vec_id", "doc_id")
      TextAnalysis.topicCards(d, clusters)
    }),

    // TRAINED topic cards: same c-TF-IDF deliverable, but the clusters are
    // lloydFinal's CONVERGED centroids over the real embeddings table (the
    // ivfTrainedTopK pattern) instead of the seeded quantizer — cards now
    // label trained cluster structure. The card corpus is the embedded
    // slice (docs joined on vec_id = doc_id); plan shape unchanged: one
    // doc_id equi-join before the token explode, training adds its
    // bounded Lloyd rounds only.
    "pipeline_topic_cards_trained" -> ((s, dir) => {
      val clusters = Similarity.assignClustersTrained(embs(s, dir))
        .withColumnRenamed("vec_id", "doc_id")
      TextAnalysis.topicCards(docs(s, dir), clusters)
    }),

    // THE corpus build, end-to-end in one declarative plan: per-language
    // quality pruning ∧ exact-dedup keepers ∧ eval-slice + contamination
    // removal → token-budget sequence packing of the survivors. Catalyst
    // sees the whole composition, so column pruning/filter pushdown cross
    // the operator boundaries; each stage keeps its own proven scale shape.
    "pipeline_corpus_build" -> ((s, dir) => {
      val d = docs(s, dir)
      val kept = TextAnalysis.qualityPrune(d).select("doc_id")
      val keepers = Dedup.exact(d).select("doc_id")
      val contaminated = Dedup.decontaminate(d).select("doc_id")
      val train = d.filter(col("doc_id") % 11 =!= 0) // eval slice never trains
        .join(kept, "doc_id").join(keepers, "doc_id")
        .join(contaminated, Seq("doc_id"), "left_anti")
      ext.Packing.pack(train)
    }),

    // composite training-data pipeline: quality gate + exact-dedup keepers —
    // the filter→dedup→retain shape every corpus build runs
    "pipeline_filter_dedup" -> ((s, dir) => {
      val d = docs(s, dir)
      val quality = TextAnalysis.quality(d).select("doc_id", "quality_score")
      val keepers = Dedup.exact(d).select("doc_id")
      quality.join(keepers, "doc_id")
        .filter(col("quality_score") >= 50.0)
        .orderBy("doc_id")
    }),
    // the NEAR-dup variant of pipeline_filter_dedup: quality gate ∧ drop
    // every non-keeper of a minhash-LSH cluster. clusters() fixes every
    // label at its component-MINIMUM doc_id, so keeper == cluster_id by
    // contract — non-keepers are simply rows where doc_id != cluster_id
    // (no keeper window, no extra exchange). The anti-join is
    // co-partitioned on doc_id; the non-keeper set is bounded by near-dup
    // density, never corpus size
    // span-level curation manifest: ACTION the dedup_spans signal — drop
    // docs mostly made of corpus-duplicated spans (dup_frac > 0.5), cut
    // the spans out of partially-duplicated docs (tokens_kept = n_words −
    // n_dup_tokens), keep clean docs whole; the "remove repeated
    // substrings, not repeated documents" decision as one plan
    "pipeline_span_clean" -> ((s, dir) => Dedup.spanClean(docs(s, dir))),
    // the KEEP-FIRST form (Lee et al. 2022 substring dedup): each
    // duplicated window keeps its content in its lowest doc_id and is cut
    // only elsewhere — repeated boilerplate survives exactly once
    // corpus-wide instead of vanishing (span_clean cuts every occurrence);
    // keeper rides the same per-hash partial agg, zero extra shuffles
    "pipeline_span_dedup_once" -> ((s, dir) => Dedup.spanDedupOnce(docs(s, dir))),
    // the daily O(increment) form: history (the stored window-hash set)
    // keeps by definition — incoming occurrences of stored windows are
    // cut — and windows NEW to the increment keep-first within it, so a
    // sequence of daily runs preserves the one-copy-corpus-wide invariant;
    // reuses dedup_spans_stored's cached %7!=0 store
    "pipeline_span_dedup_once_stored" -> ((s, dir) => {
      val d = docs(s, dir)
      val store = cachedStore("graft_span_store_v1", s"$dir/documents.parquet",
        "winhashes/_SUCCESS")(tmp =>
        Dedup.buildSpanStore(d.filter(col("doc_id") % 7 =!= 0), tmp))
      Dedup.spanDedupOnceStored(d.filter(col("doc_id") % 7 === 0), store)
    }),
    "pipeline_near_dedup" -> ((s, dir) => {
      val d = docs(s, dir)
      val nonKeep = Dedup.minhashClusters(d)
        .filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
      TextAnalysis.quality(d).select("doc_id", "quality_score")
        .join(nonKeep, Seq("doc_id"), "left_anti")
        .filter(col("quality_score") >= 50.0)
        .orderBy("doc_id")
    }),
    // exact per-type value distribution (count/sum/p50/p90/p99)
    "events_value_stats" -> ((s, dir) => Events.valueStats(events(s, dir))),

    // E3 cleaning passes (ext/Clean.scala). The synthetic corpus carries no
    // PII and no newlines, so each query derives its PII-bearing /
    // multi-line input DETERMINISTICALLY from input columns (doc_id, source,
    // lang) — both engines build the identical string, then the oracle
    // verifies the full detect/redact/remove pipeline, not a no-op pass.
    "pipeline_pii_scrub" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val d = docs(s, dir).select(col("doc_id"), concat(
        col("text"),
        when(col("doc_id") % 2 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@mail.example.com"))).otherwise(lit("")),
        when(col("doc_id") % 3 === 0,
          concat(lit(" call (555) "), lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
            lit("-"), lpad(((col("doc_id") * 7) % 10000).cast("string"), 4, "0"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" from 10."), (col("doc_id") % 256).cast("string"),
            lit(".0."), ((col("doc_id") * 3) % 256).cast("string"))).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" ref "), (col("doc_id") * 13 + 1000000).cast("string"))).otherwise(lit(""))
      ).as("text"))
      graft.ext.Clean.piiScrub(d)
    }),
    "text_boilerplate" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val d = docs(s, dir).select(col("doc_id"), concat_ws("\n",
        concat(lit("nav home about "), col("source")),
        col("text"),
        when(col("doc_id") % 4 === 0, lit("subscribe to the newsletter")),
        when(col("doc_id") % 5 === 0, concat(lit("doc note "), col("doc_id"))),
        concat(lit("copyright "), col("lang"), lit(" all rights reserved"))
      ).as("text"))
      graft.ext.Clean.boilerplate(d, minDf = 10)
    }),
    "text_gopher_quality" -> ((s, dir) => graft.ext.Clean.gopherQuality(docs(s, dir))),

    // incremental boilerplate removal against the STORED line-df index —
    // the O(increment) twin of text_boilerplate (same derived multi-line
    // corpus; the store holds the 6/7 historical slice's per-line
    // distinct-doc counts); content-keyed cache + atomic-publish
    // discipline as the other stores
    "text_boilerplate_stored" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val d = docs(s, dir).select(col("doc_id"), concat_ws("\n",
        concat(lit("nav home about "), col("source")),
        col("text"),
        when(col("doc_id") % 4 === 0, lit("subscribe to the newsletter")),
        when(col("doc_id") % 5 === 0, concat(lit("doc note "), col("doc_id"))),
        concat(lit("copyright "), col("lang"), lit(" all rights reserved"))
      ).as("text"))
      val store = cachedStore("graft_linedf_store_v1", s"$dir/documents.parquet",
        "linedf/_SUCCESS")(tmp =>
        graft.ext.Clean.buildLineDfStore(d.filter(col("doc_id") % 7 =!= 0), tmp))
      graft.ext.Clean.boilerplateAgainstStore(
        d.filter(col("doc_id") % 7 === 0), store, minDf = 10)
    }),

    // decontamination against the STORED eval n-gram index — the
    // incremental twin of pipeline_decontaminate (same eval slice, same
    // output, same oracle); content-keyed cache + atomic-publish
    // discipline as the other stores
    "pipeline_decontaminate_stored" -> ((s, dir) => {
      val d = docs(s, dir)
      val store = cachedStore("graft_eval_store_v1", s"$dir/documents.parquet",
        "evalsh/_SUCCESS")(tmp =>
        Dedup.buildEvalStore(d.filter(col("doc_id") % 11 === 0), tmp))
      Dedup.decontaminateStored(d.filter(col("doc_id") % 11 =!= 0), store)
    }),
    // FUZZY decontamination: train docs that are NEAR-DUPLICATES of eval
    // docs (paraphrase/light-edit contamination the exact n-gram check
    // misses) — banded LSH + exact-Jaccard verify, best match per train doc
    "pipeline_decontaminate_fuzzy" -> ((s, dir) =>
      Dedup.decontaminateFuzzy(docs(s, dir))),

    // the stored form: band store over the EVAL slice (rebuilt at
    // benchmark releases, not daily), each train shard probed in O(shard)
    "pipeline_decontaminate_fuzzy_stored" -> ((s, dir) => {
      val d = docs(s, dir)
      val store = cachedStore("graft_fuzzy_eval_band_store_v1",
        s"$dir/documents.parquet", "bands/_SUCCESS")(tmp =>
        Dedup.buildBandStore(d.filter(col("doc_id") % 11 === 0), tmp))
      Dedup.decontaminateFuzzyStored(d.filter(col("doc_id") % 11 =!= 0), store)
    }),

    // dataset-versioning audit: two deterministic snapshot derivations of
    // the corpus (membership by doc_id mod, an edited slice in the new
    // snapshot) diffed by content digest
    "pipeline_snapshot_diff" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val d = docs(s, dir)
      val oldSnap = d.filter(col("doc_id") % 11 =!= 3)
      val newSnap = d.filter(col("doc_id") % 13 =!= 5)
        .withColumn("text",
          when(col("doc_id") % 17 === 0, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")))
      graft.ext.Clean.snapshotDiff(oldSnap, newSnap)
    })
  )

  /** Shared oracle fragments. `maxDocFreq` mirrors [[Dedup.ngramJaccard]]'s
    * hot-shingle cap: shingles above the document-frequency cap leave the
    * shingle space before sizes AND intersections (Jaccard over the
    * filtered space). */
  /** CTE chain ending in `inter(a, b, c)` + `sz(doc_id, n_sh)` — shared by
    * the pair queries and the recursive cluster oracle. */
  /** The trained-langid scoring CTEs (train/test split, integer bigram
    * weights, per-doc candidate scores ranked to `ranked`) — shared by the
    * text_langid prediction oracle and the text_langid_confusion eval. */
  /** The trained-quality-model CTEs (Gopher-rule labels, hashed presence
    * buckets, fixed-point weights, held-out scores `sc`) — shared by the
    * text_quality_model prediction oracle and its confusion eval. Bins
    * replay the engine exactly: length(bin(n)) for the word-count log2
    * bin (integer-exact), floor-of-round-6 doubles for the ratio bins
    * (both engines compute the identical IEEE value). */
  private val qualityModelCtes: String =
    """WITH g AS (SELECT doc_id, string_split(text, ' ') AS w,
      |  CAST(strlen(replace(text, ' ', '')) AS INT) AS sum_word_len FROM documents),
      |m AS (SELECT doc_id, w,
      |  CAST(len(w) AS INT) AS n_words,
      |  round(sum_word_len / len(w), 6) AS mean_len,
      |  round(len(list_distinct(w)) / len(w), 6) AS dratio,
      |  CAST(len(list_filter(w, x -> x = 'a' OR x = 'the')) > 0 AS INT) AS has_stop FROM g),
      |lab AS (SELECT doc_id,
      |  CAST(CAST(n_words >= 28 AND n_words <= 100000 AS INT)
      |    * CAST(mean_len >= 3.0 AND mean_len <= 10.0 AS INT)
      |    * has_stop * CAST(dratio >= 0.5 AS INT) AS BIGINT) AS label FROM m),
      |feat AS (SELECT doc_id, unnest(list_concat(w, [
      |    '#w' || CAST(length(bin(n_words)) AS VARCHAR),
      |    '#d' || CAST(CAST(floor(dratio * 10) AS BIGINT) AS VARCHAR),
      |    '#m' || CAST(CAST(floor(mean_len) AS BIGINT) AS VARCHAR),
      |    '#s' || CAST(has_stop AS VARCHAR)])) AS tok FROM m),
      |b AS (SELECT DISTINCT doc_id,
      |  CAST(list_sum(list_transform(range(0, 4), k ->
      |    CAST(strpos('0123456789abcdef', substr(md5(tok), CAST(k AS INT) + 1, 1)) - 1 AS BIGINT)
      |      << CAST(4 * (3 - k) AS INT))) AS BIGINT) % 256 AS dim FROM feat),
      |cnt AS (SELECT dim, CAST(sum(label) AS BIGINT) AS cp, CAST(sum(1 - label) AS BIGINT) AS cn
      |        FROM b JOIN lab USING (doc_id) WHERE doc_id % 5 != 0 GROUP BY dim),
      |tot AS (SELECT CAST(sum(label) AS BIGINT) AS tp, CAST(sum(1 - label) AS BIGINT) AS tn
      |        FROM lab WHERE doc_id % 5 != 0),
      |wt AS (SELECT dim, CAST(round(1000 * (1000000.0 * cp / tp - 1000000.0 * cn / tn)
      |         / (1000000.0 * cp / tp + 1000000.0 * cn / tn + 1)) AS BIGINT) AS wt
      |       FROM cnt CROSS JOIN tot),
      |sc AS (SELECT doc_id, CAST(coalesce(sum(wt), 0) AS BIGINT) AS score
      |       FROM b LEFT JOIN wt USING (dim)
      |       WHERE doc_id % 5 = 0 GROUP BY doc_id)""".stripMargin

  private val langidCtes: String =
    """WITH bg AS (
      |  SELECT doc_id, lang,
      |         unnest(list_transform(range(1, len(string_split(text, ' '))),
      |                i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1])) AS bigram
      |  FROM documents),
      |train AS (SELECT * FROM bg WHERE doc_id % 5 != 0),
      |per_lang AS (SELECT lang, bigram, count(*) AS cnt FROM train GROUP BY lang, bigram),
      |lang_tot AS (SELECT lang, count(*) AS n_l FROM train GROUP BY lang),
      |per_bg AS (SELECT bigram, count(*) AS cnt_all FROM train GROUP BY bigram),
      |tot_row AS (SELECT count(*) AS tot FROM train),
      |weights AS (
      |  SELECT per_bg.bigram, lang_tot.lang,
      |    CAST(round(1000 * (1000000.0 * coalesce(per_lang.cnt, 0) / n_l - 1000000.0 * cnt_all / tot)
      |      / (1000000.0 * coalesce(per_lang.cnt, 0) / n_l + 1000000.0 * cnt_all / tot + 1)) AS BIGINT) AS w
      |  FROM per_bg CROSS JOIN lang_tot
      |  LEFT JOIN per_lang ON per_lang.bigram = per_bg.bigram AND per_lang.lang = lang_tot.lang
      |  CROSS JOIN tot_row),
      |test_bg AS (SELECT DISTINCT doc_id, lang AS actual, bigram FROM bg WHERE doc_id % 5 = 0),
      |scores AS (
      |  SELECT test_bg.doc_id, test_bg.actual, weights.lang AS cand, sum(w) AS score
      |  FROM test_bg JOIN weights ON test_bg.bigram = weights.bigram
      |  GROUP BY test_bg.doc_id, test_bg.actual, weights.lang),
      |ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand ASC) AS rn
      |           FROM scores)""".stripMargin

  private def jaccardCtes(maxDocFreq: Option[Int]): String = {
    val filtered = maxDocFreq match {
      case Some(cap) =>
        s"""dfc AS (SELECT shingle, count(*) AS dfreq FROM sh GROUP BY shingle),
           |shf AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN dfc ON sh.shingle = dfc.shingle
           |        WHERE dfc.dfreq <= $cap),""".stripMargin
      case None => "shf AS (SELECT doc_id, shingle FROM sh),"
    }
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |sh AS (SELECT DISTINCT doc_id,
       |         unnest(list_transform(range(1, len(w) - 1),
       |                i -> array_to_string(w[i:i+2], ' '))) AS shingle
       |       FROM toks WHERE len(w) >= 3),
       |$filtered
       |sz AS (SELECT doc_id, count(*) AS n_sh FROM shf GROUP BY doc_id),
       |inter AS (SELECT s1.doc_id AS a, s2.doc_id AS b, count(*) AS c
       |          FROM shf s1 JOIN shf s2 ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
       |          GROUP BY s1.doc_id, s2.doc_id)""".stripMargin
  }

  private def jaccardPairsSql(threshold: String, maxDocFreq: Option[Int] = None): String =
    s"""WITH ${jaccardCtes(maxDocFreq)}
       |SELECT a, b, round(c / (sa.n_sh + sb.n_sh - c), 6) AS jaccard
       |FROM inter JOIN sz sa ON inter.a = sa.doc_id JOIN sz sb ON inter.b = sb.doc_id
       |WHERE c / (sa.n_sh + sb.n_sh - c) >= $threshold
       |ORDER BY a, b""".stripMargin

  /** Winnowing replay: positional (non-distinct) 60-bit 3-gram hashes, min
    * of each 4-window (short docs: one window), distinct + sorted. Mirrors
    * [[TextAnalysis.winnow]]'s two stages; range bounds are the exclusive
    * twins of Spark's inclusive sequence(). */
  private val winnowCtes: String =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |hs AS (SELECT doc_id,
      |         CASE WHEN len(w) >= 3 THEN
      |           list_transform(range(1, len(w) - 1), i ->
      |             CAST(list_sum(list_transform(range(0, 15), k ->
      |               CAST(strpos('0123456789abcdef',
      |                      substr(md5(array_to_string(w[i:i+2], ' ')), CAST(k AS INT) + 1, 1)) - 1 AS BIGINT)
      |                 << CAST(4 * (14 - k) AS INT))) AS BIGINT))
      |         ELSE [] END AS hs
      |       FROM toks),
      |pr AS (SELECT doc_id,
      |         CASE WHEN len(hs) >= 1 THEN
      |           list_sort(list_distinct(list_transform(range(1, greatest(2, len(hs) - 2)),
      |             j -> list_min(hs[j:j+3]))))
      |         ELSE [] END AS prints
      |       FROM hs)""".stripMargin

  // 63-bit simhash of the distinct-token set (md5-nibble sign votes) —
  // shared by the simhash pair oracle and the triangle-graph oracle
  private val simhashShCte =
    """sh AS (
      |  SELECT doc_id,
      |    CAST(list_sum(list_transform(range(0, 63), j ->
      |      CASE WHEN list_sum(list_transform(
      |             list_transform(list_distinct(string_split(text, ' ')), t -> md5(t)),
      |             h -> 2 * (((strpos('0123456789abcdef', substr(h, CAST(j // 4 AS INT) + 1, 1)) - 1)
      |                        // (CASE j % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END)) % 2) - 1))
      |           > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE CAST(0 AS BIGINT) END))
      |      AS BIGINT) AS simhash
      |  FROM documents)""".stripMargin

  // Band-capped simhash edge relation — the DuckDB replay of
  // Dedup.simhashPairs(maxBandBucket = Some(64)): explode the 4×16-bit
  // band keys, DROP every (band, value) bucket holding more than 64 docs
  // BEFORE the pair join, keep pairs that survive via any uncapped band
  // (the DISTINCT), verify hamming ≤ 3. Composes after simhashShCte.
  private val cappedSimhashEdgeCte =
    """bb AS (SELECT doc_id, simhash, r.b AS band,
      |          (simhash >> (r.b * 16)) & 65535 AS bv
      |       FROM sh, unnest(range(0, 4)) AS r(b)),
      |bok AS (SELECT band, bv FROM bb GROUP BY band, bv HAVING count(*) <= 64),
      |bc AS (SELECT bb.* FROM bb JOIN bok USING (band, bv)),
      |e AS (SELECT DISTINCT b1.doc_id AS a, b2.doc_id AS b
      |      FROM bc b1 JOIN bc b2 ON b1.band = b2.band AND b1.bv = b2.bv
      |        AND b1.doc_id < b2.doc_id
      |      WHERE bit_count(xor(CAST(b1.simhash AS BIT), CAST(b2.simhash AS BIT))) <= 3)""".stripMargin

  private val quantCte =
    """WITH q AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
      |                  CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS x
      |           FROM embeddings),
      |nrm AS (SELECT vec_id, CAST(sum(x * x) AS BIGINT) AS n FROM q GROUP BY vec_id)""".stripMargin

  /** Exact all-pairs >=0.4-cosine pair relation — the oracle of BOTH
    * `dedup_embedding_cosine` and its metric-pruned twin (the prune is
    * recall-1 by the spherical triangle inequality, so the pruned plan
    * must hash-match the all-pairs SQL). */
  private val embCosineOracleSql: String =
    s"""$quantCte,
       |dots AS (SELECT q1.vec_id AS a, q2.vec_id AS b, CAST(sum(q1.x * q2.x) AS BIGINT) AS dot
       |         FROM q q1 JOIN q q2 ON q1.i = q2.i AND q1.vec_id < q2.vec_id
       |         GROUP BY q1.vec_id, q2.vec_id)
       |SELECT a, b, round(dot / (sqrt(CAST(na.n AS DOUBLE)) * sqrt(CAST(nb.n AS DOUBLE))), 6) AS cosine
       |FROM dots JOIN nrm na ON dots.a = na.vec_id JOIN nrm nb ON dots.b = nb.vec_id
       |WHERE dot / (sqrt(CAST(na.n AS DOUBLE)) * sqrt(CAST(nb.n AS DOUBLE))) >= 0.4
       |ORDER BY a, b""".stripMargin

  /** Recursive closure + keeper agg over the exact pair relation — the
    * oracle of BOTH `dedup_embedding_keepers` and its pruned twin. */
  private val embKeepersOracleSql: String =
    s"""${quantCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |jp AS (SELECT a, b FROM (
       |         SELECT q1.vec_id AS a, q2.vec_id AS b, CAST(sum(q1.x * q2.x) AS BIGINT) AS dot
       |         FROM q q1 JOIN q q2 ON q1.i = q2.i AND q1.vec_id < q2.vec_id
       |         GROUP BY 1, 2) d
       |       JOIN nrm na ON d.a = na.vec_id JOIN nrm nb ON d.b = nb.vec_id
       |       WHERE dot / (sqrt(CAST(na.n AS DOUBLE)) * sqrt(CAST(nb.n AS DOUBLE))) >= 0.4),
       |nodes AS (SELECT a AS id FROM jp UNION SELECT b FROM jp),
       |edges AS (SELECT a AS id, b AS nbr FROM jp UNION ALL SELECT b, a FROM jp),
       |reach(id, label) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.id, r.label FROM edges e JOIN reach r ON e.nbr = r.id),
       |cl AS (SELECT id, CAST(min(label) AS BIGINT) AS cluster_id FROM reach GROUP BY id)
       |SELECT cluster_id, min(id) AS keeper_id, count(*) AS n_members
       |FROM cl GROUP BY cluster_id ORDER BY cluster_id""".stripMargin

  /** SemDeDup's shared oracle TAIL (everything after an `asg(vec_id,
    * cluster_id, cent_cos)` assignment relation): intra-cluster
    * exact-cosine pairs, recursive min-label closure, keeper =
    * (cent_cos ASC, vec_id ASC) rank 1 per group. */
  private def semDedupTailCappedSql(cap: Option[Int]): String = {
    // the cap replays as a HAVING over the assignment: only clusters at or
    // under the cap enter the quadratic pair stage (the Scala's broadcast
    // semi-join); the final member join stays against the FULL asg
    val pairSrc = cap.fold("asg") { c =>
      s"""(SELECT a.* FROM asg a JOIN (
         |   SELECT cluster_id FROM asg GROUP BY cluster_id
         |   HAVING count(*) <= $c) ok USING (cluster_id))""".stripMargin
    }
    s"""pd AS (SELECT a1.vec_id AS a, a2.vec_id AS b, CAST(sum(q1.x * q2.x) AS BIGINT) AS dot
      |       FROM $pairSrc a1 JOIN $pairSrc a2 ON a1.cluster_id = a2.cluster_id AND a1.vec_id < a2.vec_id
      |            JOIN q q1 ON q1.vec_id = a1.vec_id
      |            JOIN q q2 ON q2.vec_id = a2.vec_id AND q1.i = q2.i
      |       GROUP BY 1, 2),""".stripMargin
  }

  private def semDedupTailSql(cap: Option[Int] = None): String =
    s"""${semDedupTailCappedSql(cap)}
      |jp AS (SELECT a, b FROM pd
      |       JOIN nrm na ON pd.a = na.vec_id JOIN nrm nb ON pd.b = nb.vec_id
      |       WHERE dot / (sqrt(CAST(na.n AS DOUBLE)) * sqrt(CAST(nb.n AS DOUBLE))) >= 0.4),
      |nodes AS (SELECT a AS id FROM jp UNION SELECT b FROM jp),
      |edges AS (SELECT a AS id, b AS nbr FROM jp UNION ALL SELECT b, a FROM jp),
      |reach(id, label) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT e.id, r.label FROM edges e JOIN reach r ON e.nbr = r.id),
      |cl AS (SELECT id, CAST(min(label) AS BIGINT) AS group_id FROM reach GROUP BY id)
      |SELECT a.cluster_id, cl.group_id, cl.id AS vec_id,
      |       round(a.cent_cos, 6) AS cent_cos,
      |       (row_number() OVER (PARTITION BY cl.group_id
      |                           ORDER BY a.cent_cos ASC, cl.id ASC)) = 1 AS keep
      |FROM cl JOIN asg a ON cl.id = a.vec_id
      |ORDER BY group_id, vec_id""".stripMargin

  /** SemDeDup: the seeded-quantizer assignment (ivf oracle's argmax CTEs,
    * cent_cos kept) feeding the shared tail; `cap` replays
    * `maxClusterSize` for the capped twin. */
  private def semDedupOracleSql(cap: Option[Int] = None): String =
    s"""${quantCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |cdots AS (SELECT qv.vec_id, qc.vec_id AS cent_id, CAST(sum(qv.x * qc.x) AS BIGINT) AS dot
       |          FROM q qv JOIN q qc ON qv.i = qc.i AND qc.vec_id >= 100 AND qc.vec_id < 116
       |          GROUP BY 1, 2),
       |ccos AS (SELECT cdots.vec_id AS vec_id, cdots.cent_id AS cent_id,
       |           dot / (sqrt(CAST(nv.n AS DOUBLE)) * sqrt(CAST(nc.n AS DOUBLE))) AS ccos
       |         FROM cdots JOIN nrm nv ON cdots.vec_id = nv.vec_id
       |                    JOIN nrm nc ON cdots.cent_id = nc.vec_id),
       |asg AS (SELECT vec_id, cent_id AS cluster_id, ccos AS cent_cos FROM
       |        (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS r
       |         FROM ccos) WHERE r = 1),
       |${semDedupTailSql(cap)}""".stripMargin

  /** SemDeDup over TRAINED clusters: the kmeans round CTEs' converged
    * member-sum centroids (c_{iters+1}) replace the seeded rows in the
    * assignment, then the shared tail — two proven oracles composed. */
  private def semDedupTrainedOracleSql(iters: Int): String =
    s"""${kmeansCtes(iters).replaceFirst("WITH ", "WITH RECURSIVE ")},
       |cf AS (SELECT cluster_id, i, x FROM c${iters + 1}),
       |nf AS (SELECT cluster_id, CAST(sum(x * x) AS BIGINT) AS n FROM cf GROUP BY cluster_id),
       |tdots AS (SELECT qv.vec_id, cf.cluster_id AS cent_id, CAST(sum(qv.x * cf.x) AS BIGINT) AS dot
       |          FROM q qv JOIN cf ON qv.i = cf.i GROUP BY 1, 2),
       |tccos AS (SELECT tdots.vec_id AS vec_id, tdots.cent_id AS cent_id,
       |            dot / (sqrt(CAST(nv.n AS DOUBLE)) * sqrt(CAST(nf.n AS DOUBLE))) AS ccos
       |          FROM tdots JOIN nrm nv ON tdots.vec_id = nv.vec_id
       |                     JOIN nf ON tdots.cent_id = nf.cluster_id),
       |asg AS (SELECT vec_id, cent_id AS cluster_id, ccos AS cent_cos FROM
       |        (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS r
       |         FROM tccos) WHERE r = 1),
       |${semDedupTailSql()}""".stripMargin

  /** Cross-side exact Jaccard between the historical (doc_id % 7 != 0) and
    * incoming (doc_id % 7 = 0) slices — the oracle of BOTH incremental
    * variants (the band store is a materialization, not a semantic change). */
  /** The IVF top-k relation — deterministic coarse quantizer (vec_id in
    * [100,116)), argmax assignment with lower-id tie-break, nProbe=4
    * probes, candidate-only rerank. ONE oracle for both the in-line
    * `similarity_ivf` and the stored-index `similarity_ivf_stored` (a pure
    * materialization of the same relation). */
  private lazy val ivfOracleSql: String =
    s"""$quantCte,
       |cdots AS (SELECT qv.vec_id, qc.vec_id AS cent_id, CAST(sum(qv.x * qc.x) AS BIGINT) AS dot
       |          FROM q qv JOIN q qc ON qv.i = qc.i AND qc.vec_id >= 100 AND qc.vec_id < 116
       |          GROUP BY qv.vec_id, qc.vec_id),
       |ccos AS (SELECT cdots.vec_id AS vec_id, cdots.cent_id AS cent_id,
       |           dot / (sqrt(CAST(nv.n AS DOUBLE)) * sqrt(CAST(nc.n AS DOUBLE))) AS ccos
       |         FROM cdots JOIN nrm nv ON cdots.vec_id = nv.vec_id
       |                    JOIN nrm nc ON cdots.cent_id = nc.vec_id),
       |assigned AS (SELECT vec_id, cent_id AS list_id FROM
       |             (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS r
       |              FROM ccos) WHERE r = 1),
       |probes AS (SELECT vec_id AS query_id, cent_id AS list_id FROM
       |           (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS r
       |            FROM ccos WHERE vec_id < 10) WHERE r <= 4),
       |cand AS (SELECT p.query_id, a.vec_id, a.list_id
       |         FROM probes p JOIN assigned a ON p.list_id = a.list_id AND a.vec_id != p.query_id),
       |dots AS (SELECT cand.query_id, cand.vec_id, cand.list_id, CAST(sum(qq.x * qv.x) AS BIGINT) AS dot
       |         FROM cand JOIN q qq ON qq.vec_id = cand.query_id
       |                   JOIN q qv ON qv.vec_id = cand.vec_id AND qq.i = qv.i
       |         GROUP BY cand.query_id, cand.vec_id, cand.list_id),
       |scored AS (SELECT dots.query_id AS query_id, dots.vec_id AS vec_id, dots.list_id AS list_id,
       |             dot / (sqrt(CAST(nq.n AS DOUBLE)) * sqrt(CAST(nv.n AS DOUBLE))) AS cosine
       |           FROM dots JOIN nrm nq ON dots.query_id = nq.vec_id
       |                     JOIN nrm nv ON dots.vec_id = nv.vec_id),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
       |           FROM scored)
       |SELECT query_id, CAST(rank AS INT) AS rank, vec_id AS neighbor_id,
       |       round(cosine, 6) AS cosine, list_id
       |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Two-level IVF replay: leaders = the first 4 of the 16 centroid rows;
    * each centroid groups under its argmax-cosine leader (ties lead_id
    * ASC ≡ the engine's first-max leader index), each vector picks its
    * argmax leader then its argmax member WITHIN that group (ties cent_id
    * ASC ≡ member id order); probe lists = the query's top-4 member lists
    * by the same level-2 scores; rerank tail = [[ivfOracleSql]]'s
    * verbatim. */
  private lazy val ivfHierOracleSql: String =
    s"""$quantCte,
       |cent AS (SELECT vec_id AS cent_id, i, x FROM q WHERE vec_id >= 100 AND vec_id < 116),
       |ldots AS (SELECT c.cent_id, l.vec_id AS lead_id, CAST(sum(c.x * l.x) AS BIGINT) AS dot
       |          FROM cent c JOIN q l ON c.i = l.i AND l.vec_id >= 100 AND l.vec_id < 104
       |          GROUP BY 1, 2),
       |grp AS (SELECT cent_id, lead_id FROM
       |        (SELECT ldots.cent_id, ldots.lead_id,
       |           row_number() OVER (PARTITION BY ldots.cent_id ORDER BY
       |             dot / (sqrt(CAST(cn.n AS DOUBLE)) * sqrt(CAST(ln.n AS DOUBLE))) DESC, ldots.lead_id ASC) AS r
       |         FROM ldots JOIN nrm cn ON ldots.cent_id = cn.vec_id
       |                    JOIN nrm ln ON ldots.lead_id = ln.vec_id) WHERE r = 1),
       |vl1 AS (SELECT qv.vec_id, l.vec_id AS lead_id, CAST(sum(qv.x * l.x) AS BIGINT) AS dot
       |        FROM q qv JOIN q l ON qv.i = l.i AND l.vec_id >= 100 AND l.vec_id < 104
       |        GROUP BY 1, 2),
       |vg AS (SELECT vec_id, lead_id FROM
       |       (SELECT vl1.vec_id, vl1.lead_id,
       |          row_number() OVER (PARTITION BY vl1.vec_id ORDER BY
       |            dot / (sqrt(CAST(nv.n AS DOUBLE)) * sqrt(CAST(ln.n AS DOUBLE))) DESC, vl1.lead_id ASC) AS r
       |        FROM vl1 JOIN nrm nv ON vl1.vec_id = nv.vec_id
       |                 JOIN nrm ln ON vl1.lead_id = ln.vec_id) WHERE r = 1),
       |mdots AS (SELECT qv.vec_id, c.cent_id, CAST(sum(qv.x * c.x) AS BIGINT) AS dot
       |          FROM q qv JOIN vg ON qv.vec_id = vg.vec_id
       |                    JOIN grp ON grp.lead_id = vg.lead_id
       |                    JOIN cent c ON c.cent_id = grp.cent_id AND qv.i = c.i
       |          GROUP BY 1, 2),
       |ccos AS (SELECT mdots.vec_id AS vec_id, mdots.cent_id AS cent_id,
       |           dot / (sqrt(CAST(nv.n AS DOUBLE)) * sqrt(CAST(nc.n AS DOUBLE))) AS ccos
       |         FROM mdots JOIN nrm nv ON mdots.vec_id = nv.vec_id
       |                    JOIN nrm nc ON mdots.cent_id = nc.vec_id),
       |assigned AS (SELECT vec_id, cent_id AS list_id FROM
       |             (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS r
       |              FROM ccos) WHERE r = 1),
       |probes AS (SELECT vec_id AS query_id, cent_id AS list_id FROM
       |           (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS r
       |            FROM ccos WHERE vec_id < 10) WHERE r <= 4),
       |cand AS (SELECT p.query_id, a.vec_id, a.list_id
       |         FROM probes p JOIN assigned a ON p.list_id = a.list_id AND a.vec_id != p.query_id),
       |dots AS (SELECT cand.query_id, cand.vec_id, cand.list_id, CAST(sum(qq.x * qv.x) AS BIGINT) AS dot
       |         FROM cand JOIN q qq ON qq.vec_id = cand.query_id
       |                   JOIN q qv ON qv.vec_id = cand.vec_id AND qq.i = qv.i
       |         GROUP BY cand.query_id, cand.vec_id, cand.list_id),
       |scored AS (SELECT dots.query_id AS query_id, dots.vec_id AS vec_id, dots.list_id AS list_id,
       |             dot / (sqrt(CAST(nq.n AS DOUBLE)) * sqrt(CAST(nv.n AS DOUBLE))) AS cosine
       |           FROM dots JOIN nrm nq ON dots.query_id = nq.vec_id
       |                     JOIN nrm nv ON dots.vec_id = nv.vec_id),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
       |           FROM scored)
       |SELECT query_id, CAST(rank AS INT) AS rank, vec_id AS neighbor_id,
       |       round(cosine, 6) AS cosine, list_id
       |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** DSIR replay: the same md5 hex[1..4] bucket (exact bigint shifts),
    * add-1-smoothed per-side bucket distributions from exact counts,
    * log-ratio in the identical division shape, per-doc count·ln sum
    * (the unigramCE ln-sum precedent, round-6). One CTE block proves the
    * in-line fit, the store's fit→publish→serve loop, AND feeds the
    * resampling oracle. */
  private lazy val dsirCtes: String =
    """WITH tok AS (SELECT doc_id, doc_id % 11 = 0 AS in_target,
      |                    string_split(text, ' ') AS w FROM documents),
      |feats AS (
      |  SELECT doc_id, in_target, unnest(w) AS f FROM tok
      |  UNION ALL
      |  SELECT doc_id, in_target,
      |         unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])) AS f
      |  FROM tok),
      |hb AS (SELECT doc_id, in_target,
      |         CAST(list_sum(list_transform(range(0, 4), k ->
      |           CAST(strpos('0123456789abcdef', substr(md5(f), CAST(k AS INT) + 1, 1)) - 1 AS BIGINT)
      |             << CAST(4 * (3 - k) AS INT))) AS BIGINT) % 1024 AS b
      |       FROM feats),
      |side AS (SELECT b, CAST(sum(CASE WHEN in_target THEN 1 ELSE 0 END) AS BIGINT) AS tc,
      |                CAST(sum(CASE WHEN in_target THEN 0 ELSE 1 END) AS BIGINT) AS rc
      |         FROM hb GROUP BY b),
      |tot AS (SELECT CAST(sum(tc) AS BIGINT) AS tt, CAST(sum(rc) AS BIGINT) AS rt FROM side),
      |lr AS (SELECT b, ln(((tc + 1) / CAST(tt + 1024 AS DOUBLE))
      |                    / ((rc + 1) / CAST(rt + 1024 AS DOUBLE))) AS lr
      |       FROM side CROSS JOIN tot),
      |dw AS (SELECT doc_id, in_target, b, CAST(count(*) AS BIGINT) AS c
      |       FROM hb GROUP BY 1, 2, 3),
      |wts AS (SELECT dw.doc_id AS doc_id, dw.in_target AS in_target,
      |          CAST(sum(dw.c) AS BIGINT) AS n_feats,
      |          round(sum(dw.c * lr.lr), 6) AS weight
      |        FROM dw JOIN lr ON dw.b = lr.b
      |        GROUP BY 1, 2)""".stripMargin

  /** CCNet LM-filter replay — the term relation mirrors
    * [[graft.ext.LmFilter.termArrSql]] (bigram structs; single-token docs
    * contribute one context-free (NULL, token) term), the model fits on
    * the `in_ref` slice, and the probability/cutoff/bucket shapes are the
    * module's own, literal for literal. */
  private lazy val lmFilterOracleSql: String =
    """WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
      |tmu AS (SELECT doc_id, lang, doc_id % 3 = 0 AS in_ref,
      |          unnest(CASE WHEN len(w) >= 2
      |            THEN list_transform(range(1, len(w)), i ->
      |                   struct_pack(prev := w[i], cur := w[i + 1]))
      |            ELSE [struct_pack(prev := CAST(NULL AS VARCHAR), cur := w[1])] END) AS trm
      |        FROM d),
      |terms AS (SELECT doc_id, lang, in_ref, trm.prev AS prev, trm.cur AS cur FROM tmu),
      |uni AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS uf
      |        FROM (SELECT lang, unnest(w) AS token FROM d WHERE doc_id % 3 = 0)
      |        GROUP BY 1, 2),
      |tot AS (SELECT lang, CAST(sum(uf) AS BIGINT) AS t,
      |               CAST(count(*) AS BIGINT) AS v FROM uni GROUP BY 1),
      |big AS (SELECT lang, prev, cur, CAST(count(*) AS BIGINT) AS bf
      |        FROM terms WHERE in_ref AND prev IS NOT NULL GROUP BY 1, 2, 3),
      |sc AS (SELECT doc_id, lang, in_ref, CAST(count(*) AS BIGINT) AS n_terms,
      |         round(-sum(ln(0.75e0 * (coalesce(bf, 0) / greatest(coalesce(cf, 0), 1))
      |                       + 0.25e0 * ((coalesce(uf, 0) + 1)
      |                           / CAST(coalesce(t, 0) + coalesce(v, 0) + 1 AS DOUBLE))))
      |               / count(*), 6) AS ce_nats
      |       FROM terms
      |       LEFT JOIN big USING (lang, prev, cur)
      |       LEFT JOIN (SELECT lang, token AS prev, uf AS cf FROM uni) cu USING (lang, prev)
      |       LEFT JOIN (SELECT lang, token AS cur, uf FROM uni) cu2 USING (lang, cur)
      |       LEFT JOIN tot USING (lang)
      |       GROUP BY 1, 2, 3),
      |cuts AS (SELECT lang, round(quantile_cont(ce_nats, 0.33e0), 6) AS c1,
      |                round(quantile_cont(ce_nats, 0.67e0), 6) AS c2
      |         FROM sc GROUP BY 1),
      |b AS (SELECT doc_id, lang, in_ref, n_terms, ce_nats,
      |        CAST(CASE WHEN c1 IS NULL THEN 3
      |                  WHEN ce_nats <= c1 THEN 1
      |                  WHEN ce_nats <= c2 THEN 2
      |                  ELSE 3 END AS INT) AS bucket
      |      FROM sc LEFT JOIN cuts USING (lang))
      |SELECT doc_id, lang, in_ref, n_terms, ce_nats, bucket, bucket <= 2 AS kept
      |FROM b ORDER BY doc_id""".stripMargin

  private lazy val dsirOracleSql: String =
    s"""$dsirCtes
       |SELECT doc_id, in_target, n_feats, weight FROM wts ORDER BY doc_id""".stripMargin

  /** Gumbel-top-quantile replay: u from md5(doc_id) hex [9,12] (exact
    * shifts, +1/65537 keeps it in (0,1)), key = weight/T − ln(−ln(u)) in
    * the identical literal shape, threshold = the interpolated 1−frac
    * percentile (percentile ≡ quantile_cont — the dataset-card p50
    * precedent), ties at the threshold included. */
  private lazy val dsirSampleOracleSql: String =
    s"""$dsirCtes,
       |keyed AS (SELECT doc_id, in_target, weight,
       |  (CAST(list_sum(list_transform(range(0, 4), k ->
       |     CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), CAST(k AS INT) + 9, 1)) - 1 AS BIGINT)
       |       << CAST(4 * (3 - k) AS INT))) AS BIGINT) + 1) / 65537e0 AS u
       |  FROM wts),
       |g AS (SELECT doc_id, in_target, weight,
       |        weight / 1.0e0 - ln(0e0 - ln(u)) AS gumbel_key FROM keyed),
       |thr AS (SELECT quantile_cont(gumbel_key, 0.8e0) AS t FROM g)
       |SELECT doc_id, in_target, weight, round(gumbel_key, 6) AS gumbel_key,
       |       gumbel_key >= t AS selected
       |FROM g CROSS JOIN thr ORDER BY doc_id""".stripMargin

  /** Cross-slice winnow-pair relation — incoming (%7=0) vs historical
    * (%7≠0) print index, df cap counted over HISTORICAL rows only,
    * n_shared with multiplicity. Shared by `text_winnow_incremental`
    * (in-line halves) and `text_winnow_stored` (a materialization of the
    * historical side — build+append over complementary halves covers
    * exactly the %7≠0 slice, and rows are append-order-independent). */
  private lazy val winnowIncrementalOracleSql: String =
    s"""WITH $winnowCtes,
       |idx AS (SELECT doc_id, unnest(prints) AS print FROM pr),
       |hidx AS (SELECT doc_id AS hist_id, print FROM idx WHERE doc_id % 7 <> 0),
       |iidx AS (SELECT doc_id AS inc_id, print FROM idx WHERE doc_id % 7 = 0),
       |keep AS (SELECT print FROM hidx GROUP BY print HAVING count(*) <= 50)
       |SELECT iidx.inc_id AS inc_id, hidx.hist_id AS hist_id,
       |       CAST(count(*) AS BIGINT) AS n_shared
       |FROM iidx JOIN hidx USING (print) JOIN keep USING (print)
       |GROUP BY 1, 2 HAVING count(*) >= 8
       |ORDER BY inc_id, hist_id""".stripMargin

  /** The ingest-triage relation both the in-line composite and the stored
    * probe must hash-match: the exact-key relation and the cross-side
    * jaccard relation are the two proven oracles, composed (see the
    * registry comments on both entries). */
  private val ingestTriageOracleSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |         unnest(list_transform(range(1, len(w) - 1),
        |                i -> array_to_string(w[i:i+2], ' '))) AS shingle
        |       FROM toks WHERE len(w) >= 3),
        |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        |inter AS (SELECT i.doc_id AS inc_id, h.doc_id AS hist_id, count(*) AS c
        |          FROM sh h JOIN sh i ON h.shingle = i.shingle
        |          WHERE h.doc_id % 7 != 0 AND i.doc_id % 7 = 0
        |          GROUP BY 1, 2),
        |nj AS (SELECT inc_id, hist_id, round(c / (si.n_sh + sh2.n_sh - c), 6) AS jaccard
        |       FROM inter JOIN sz si ON inter.inc_id = si.doc_id
        |                  JOIN sz sh2 ON inter.hist_id = sh2.doc_id
        |       WHERE c / (si.n_sh + sh2.n_sh - c) >= 0.8),
        |best AS (SELECT inc_id AS doc_id, hist_id AS near_hist_id, jaccard FROM (
        |           SELECT *, row_number() OVER (PARTITION BY inc_id
        |                       ORDER BY jaccard DESC, hist_id ASC) AS rn FROM nj)
        |         WHERE rn = 1),
        |ex AS (SELECT i.doc_id, (h.k IS NOT NULL) AS exact_dup
        |       FROM (SELECT doc_id, substr(text, 1, 80) AS k FROM documents
        |             WHERE doc_id % 7 = 0) i
        |       LEFT JOIN (SELECT DISTINCT substr(text, 1, 80) AS k FROM documents
        |                  WHERE doc_id % 7 <> 0) h ON i.k = h.k)
        |SELECT ex.doc_id AS doc_id,
        |       CASE WHEN exact_dup THEN 'exact'
        |            WHEN near_hist_id IS NOT NULL THEN 'near'
        |            ELSE 'fresh' END AS verdict,
        |       near_hist_id, jaccard
        |FROM ex LEFT JOIN best ON ex.doc_id = best.doc_id
        |ORDER BY doc_id""".stripMargin

  private val bloomGateOracleSql: String =
    """SELECT i.doc_id,
      |       (h.k IS NOT NULL) AS exact_dup,
      |       FALSE AS missed_by_bloom,
      |       TRUE  AS fp_within_bound
      |FROM (SELECT doc_id, substr(text, 1, 80) AS k FROM documents
      |      WHERE doc_id % 7 = 0) i
      |LEFT JOIN (SELECT DISTINCT substr(text, 1, 80) AS k FROM documents
      |           WHERE doc_id % 7 <> 0) h ON i.k = h.k
      |ORDER BY i.doc_id""".stripMargin

  /** Fuzzy-decontamination replay: the exact 3-gram-Jaccard pair relation
    * under the % 11 eval split (LSH ≡ exact pairs — the incremental
    * oracle's argument), best match per TRAIN doc by (jaccard DESC,
    * eval_id ASC). One SQL proves the in-line operator and the
    * eval-band-store probe (build over the % 11 = 0 slice covers exactly
    * the oracle's eval side). */
  private val decontaminateFuzzyOracleSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |         unnest(list_transform(range(1, len(w) - 1),
      |                i -> array_to_string(w[i:i+2], ' '))) AS shingle
      |       FROM toks WHERE len(w) >= 3),
      |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      |inter AS (SELECT t.doc_id AS train_id, e.doc_id AS eval_id, count(*) AS c
      |          FROM sh t JOIN sh e ON t.shingle = e.shingle
      |          WHERE t.doc_id % 11 != 0 AND e.doc_id % 11 = 0
      |          GROUP BY 1, 2),
      |j AS (SELECT train_id, eval_id, round(c / (st.n_sh + se.n_sh - c), 6) AS jaccard
      |      FROM inter JOIN sz st ON inter.train_id = st.doc_id
      |                 JOIN sz se ON inter.eval_id = se.doc_id
      |      WHERE c / (st.n_sh + se.n_sh - c) >= 0.8)
      |SELECT train_id, eval_id, jaccard FROM (
      |  SELECT *, row_number() OVER (PARTITION BY train_id
      |              ORDER BY jaccard DESC, eval_id ASC) AS rn FROM j)
      |WHERE rn = 1 ORDER BY train_id""".stripMargin

  private val incrementalOracleSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |         unnest(list_transform(range(1, len(w) - 1),
      |                i -> array_to_string(w[i:i+2], ' '))) AS shingle
      |       FROM toks WHERE len(w) >= 3),
      |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      |inter AS (SELECT i.doc_id AS inc_id, h.doc_id AS hist_id, count(*) AS c
      |          FROM sh h JOIN sh i ON h.shingle = i.shingle
      |          WHERE h.doc_id % 7 != 0 AND i.doc_id % 7 = 0
      |          GROUP BY 1, 2)
      |SELECT inc_id, hist_id, round(c / (si.n_sh + sh2.n_sh - c), 6) AS jaccard
      |FROM inter JOIN sz si ON inter.inc_id = si.doc_id
      |           JOIN sz sh2 ON inter.hist_id = sh2.doc_id
      |WHERE c / (si.n_sh + sh2.n_sh - c) >= 0.8
      |ORDER BY inc_id, hist_id""".stripMargin

  /** `iters` chained Lloyd rounds as CTE blocks, replaying
    * [[graft.ext.Similarity.kmeansRun]] exactly: c1 = the raw quantizer
    * vectors; each round t computes centroid norms (n_t), exact integer
    * dots (d_t), the argmax-cosine assignment with lower-cluster_id
    * tie-break (a_t), and the next round's sum-vector centroids (c_{t+1}).
    * Output = member counts of the FINAL assignment joined to the final
    * sums. */
  private def kmeansCtes(iters: Int): String = {
    val blocks = (1 to iters).map { t =>
      s"""n$t AS (SELECT cluster_id, CAST(sum(x * x) AS BIGINT) AS n FROM c$t GROUP BY cluster_id),
         |d$t AS (SELECT qv.vec_id, c.cluster_id, CAST(sum(qv.x * c.x) AS BIGINT) AS dot
         |        FROM q qv JOIN c$t c ON qv.i = c.i GROUP BY 1, 2),
         |a$t AS (SELECT vec_id, cluster_id FROM (
         |          SELECT d$t.vec_id, d$t.cluster_id,
         |            row_number() OVER (PARTITION BY d$t.vec_id
         |              ORDER BY d$t.dot / (sqrt(CAST(nv.n AS DOUBLE)) * sqrt(CAST(cn.n AS DOUBLE))) DESC,
         |                       d$t.cluster_id ASC) AS r
         |          FROM d$t JOIN nrm nv ON d$t.vec_id = nv.vec_id
         |                   JOIN n$t cn ON d$t.cluster_id = cn.cluster_id)
         |        WHERE r = 1),
         |c${t + 1} AS (SELECT a$t.cluster_id, q.i, CAST(sum(q.x) AS BIGINT) AS x
         |        FROM a$t JOIN q ON q.vec_id = a$t.vec_id GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    s"""$quantCte,
       |c1 AS (SELECT vec_id AS cluster_id, i, x FROM q WHERE vec_id >= 100 AND vec_id < 116),
       |$blocks""".stripMargin
  }

  // NOTE: quantCte (the head of kmeansCtes) already opens the WITH clause
  private def kmeansRunOracleSql(iters: Int): String =
    s"""${kmeansCtes(iters)},
       |m AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members FROM a$iters GROUP BY cluster_id)
       |SELECT s.cluster_id AS cluster_id, CAST(s.i - 1 AS INT) AS dim, m.n_members,
       |       s.x AS sum_x, round(s.x / m.n_members, 6) AS mean_x
       |FROM c${iters + 1} s JOIN m ON s.cluster_id = m.cluster_id
       |ORDER BY cluster_id, dim""".stripMargin

  /** The trained-quantizer IVF pipeline: [[kmeansCtes]]' final centroid
    * sums (c{iters+1}, labels = the seed ids) become the quantizer matrix
    * for the proven ivf assignment/probe/rerank CTEs — the chained-CTE
    * composition of the two green oracles. */
  private def ivfTrainedOracleSql(iters: Int): String =
    s"""${kmeansCtes(iters)},
       |cf AS (SELECT cluster_id, i, x FROM c${iters + 1}),
       |nf AS (SELECT cluster_id, CAST(sum(x * x) AS BIGINT) AS n FROM cf GROUP BY cluster_id),
       |cdots AS (SELECT qv.vec_id, cf.cluster_id AS cent_id, CAST(sum(qv.x * cf.x) AS BIGINT) AS dot
       |          FROM q qv JOIN cf ON qv.i = cf.i GROUP BY 1, 2),
       |ccos AS (SELECT cdots.vec_id AS vec_id, cdots.cent_id AS cent_id,
       |           dot / (sqrt(CAST(nv.n AS DOUBLE)) * sqrt(CAST(nf.n AS DOUBLE))) AS ccos
       |         FROM cdots JOIN nrm nv ON cdots.vec_id = nv.vec_id
       |                    JOIN nf ON cdots.cent_id = nf.cluster_id),
       |assigned AS (SELECT vec_id, cent_id AS list_id FROM
       |             (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS r
       |              FROM ccos) WHERE r = 1),
       |probes AS (SELECT vec_id AS query_id, cent_id AS list_id FROM
       |           (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS r
       |            FROM ccos WHERE vec_id < 10) WHERE r <= 4),
       |cand AS (SELECT p.query_id, a.vec_id, a.list_id
       |         FROM probes p JOIN assigned a ON p.list_id = a.list_id AND a.vec_id != p.query_id),
       |dots AS (SELECT cand.query_id, cand.vec_id, cand.list_id, CAST(sum(qq.x * qv.x) AS BIGINT) AS dot
       |         FROM cand JOIN q qq ON qq.vec_id = cand.query_id
       |                   JOIN q qv ON qv.vec_id = cand.vec_id AND qq.i = qv.i
       |         GROUP BY cand.query_id, cand.vec_id, cand.list_id),
       |scored AS (SELECT dots.query_id AS query_id, dots.vec_id AS vec_id, dots.list_id AS list_id,
       |             dot / (sqrt(CAST(nq.n AS DOUBLE)) * sqrt(CAST(nv.n AS DOUBLE))) AS cosine
       |           FROM dots JOIN nrm nq ON dots.query_id = nq.vec_id
       |                     JOIN nrm nv ON dots.vec_id = nv.vec_id),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
       |           FROM scored)
       |SELECT query_id, CAST(rank AS INT) AS rank, vec_id AS neighbor_id,
       |       round(cosine, 6) AS cosine, list_id
       |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** One HIERARCHICAL assignment pass of the q vectors against the
    * centroid relation `c` (cluster_id, i, x), replaying
    * [[graft.ext.Similarity.hierAssigned]] exactly: leaders = the `g`
    * lowest cluster_ids (`ld`), each centroid groups under its
    * argmax-cosine leader with the lower-leader tie rule (`gd`/`grp`),
    * each vector picks its argmax leader (`vl`/`vg`) and then its argmax
    * member WITHIN that leader's group (`md` — the per-vector candidate
    * relation the probe CTEs also rank). Emits `${p}ccos` (vec_id,
    * cent_id, ccos over group members only) and `${p}a` (the final
    * per-vector assignment). `cn` names the centroid-norm CTE. */
  private def hierAssignCtes(c: String, cn: String, g: Int, p: String,
                             vq: String = "q"): String =
    s"""${p}ld AS (SELECT cluster_id AS lead_id FROM
       |         (SELECT cluster_id, row_number() OVER (ORDER BY cluster_id) AS r FROM $cn)
       |         WHERE r <= $g),
       |${p}gd AS (SELECT c.cluster_id AS cent_id, l.cluster_id AS lead_id,
       |             CAST(sum(c.x * l.x) AS BIGINT) AS dot
       |           FROM $c c JOIN $c l ON c.i = l.i
       |                JOIN ${p}ld ON l.cluster_id = ${p}ld.lead_id
       |           GROUP BY 1, 2),
       |${p}grp AS MATERIALIZED (SELECT cent_id, lead_id FROM (
       |             SELECT ${p}gd.cent_id, ${p}gd.lead_id,
       |               row_number() OVER (PARTITION BY ${p}gd.cent_id ORDER BY
       |                 dot / (sqrt(CAST(cc.n AS DOUBLE)) * sqrt(CAST(lc.n AS DOUBLE))) DESC,
       |                 ${p}gd.lead_id ASC) AS r
       |             FROM ${p}gd JOIN $cn cc ON ${p}gd.cent_id = cc.cluster_id
       |                         JOIN $cn lc ON ${p}gd.lead_id = lc.cluster_id)
       |            WHERE r = 1),
       |${p}vl AS (SELECT qv.vec_id, l.cluster_id AS lead_id,
       |             CAST(sum(qv.x * l.x) AS BIGINT) AS dot
       |           FROM $vq qv JOIN $c l ON qv.i = l.i
       |                JOIN ${p}ld ON l.cluster_id = ${p}ld.lead_id
       |           GROUP BY 1, 2),
       |${p}vg AS MATERIALIZED (SELECT vec_id, lead_id FROM (
       |            SELECT ${p}vl.vec_id, ${p}vl.lead_id,
       |              row_number() OVER (PARTITION BY ${p}vl.vec_id ORDER BY
       |                dot / (sqrt(CAST(nv.n AS DOUBLE)) * sqrt(CAST(lc.n AS DOUBLE))) DESC,
       |                ${p}vl.lead_id ASC) AS r
       |            FROM ${p}vl JOIN nrm nv ON ${p}vl.vec_id = nv.vec_id
       |                        JOIN $cn lc ON ${p}vl.lead_id = lc.cluster_id)
       |           WHERE r = 1),
       |${p}md AS (SELECT qv.vec_id, c.cluster_id, CAST(sum(qv.x * c.x) AS BIGINT) AS dot
       |           FROM $vq qv JOIN ${p}vg ON qv.vec_id = ${p}vg.vec_id
       |                JOIN ${p}grp ON ${p}grp.lead_id = ${p}vg.lead_id
       |                JOIN $c c ON c.cluster_id = ${p}grp.cent_id AND qv.i = c.i
       |           GROUP BY 1, 2),
       |${p}ccos AS MATERIALIZED (SELECT ${p}md.vec_id AS vec_id, ${p}md.cluster_id AS cent_id,
       |               dot / (sqrt(CAST(nv.n AS DOUBLE)) * sqrt(CAST(cc.n AS DOUBLE))) AS ccos
       |             FROM ${p}md JOIN nrm nv ON ${p}md.vec_id = nv.vec_id
       |                         JOIN $cn cc ON ${p}md.cluster_id = cc.cluster_id),
       |${p}a AS MATERIALIZED (SELECT vec_id, cent_id AS cluster_id FROM (
       |           SELECT *, row_number() OVER (PARTITION BY vec_id
       |             ORDER BY ccos DESC, cent_id ASC) AS r FROM ${p}ccos)
       |          WHERE r = 1)""".stripMargin

  /** `iters` chained HIERARCHICAL Lloyd rounds, replaying
    * [[graft.ext.Similarity.kmeansRunHier]]: each round refolds the
    * current centroids into the leader/member scheme (leaders = the g
    * lowest surviving cluster_ids) and assigns through both levels —
    * exactly [[hierAssignCtes]] per round — then sums the next centroids. */
  /** `samplePct` < 100 trains the rounds over the deterministic
    * md5-bucket slice (+ the seed rows) — the engine's
    * [[graft.ext.Sampling.assignSplits]] hex[1,5) bucket replayed with the
    * strpos hex fold. */
  private def hierKmeansCtes(iters: Int, g: Int, samplePct: Int = 100): String = {
    val vq = if (samplePct < 100) "tr" else "q"
    val trCte =
      if (samplePct == 100) ""
      else s""",
        |tr AS MATERIALIZED (SELECT * FROM q WHERE
        |  (CAST(list_sum(list_transform(range(0, 4), k ->
        |     CAST(strpos('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), CAST(k AS INT) + 1, 1)) - 1 AS BIGINT)
        |       << CAST(4 * (3 - k) AS INT))) AS BIGINT) % 100) < $samplePct
        |  OR (vec_id >= 100 AND vec_id < 116))""".stripMargin
    val blocks = (1 to iters).map { t =>
      s"""n$t AS MATERIALIZED (SELECT cluster_id, CAST(sum(x * x) AS BIGINT) AS n FROM c$t GROUP BY cluster_id),
         |${hierAssignCtes(s"c$t", s"n$t", g, s"h$t", vq)},
         |c${t + 1} AS MATERIALIZED (SELECT h${t}a.cluster_id, q.i, CAST(sum(q.x) AS BIGINT) AS x
         |        FROM h${t}a JOIN q ON q.vec_id = h${t}a.vec_id GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    s"""$quantCte$trCte,
       |c1 AS MATERIALIZED (SELECT vec_id AS cluster_id, i, x FROM q WHERE vec_id >= 100 AND vec_id < 116),
       |$blocks""".stripMargin
  }

  private def kmeansRunHierOracleSql(iters: Int, g: Int,
                                     samplePct: Int = 100): String =
    s"""${hierKmeansCtes(iters, g, samplePct)},
       |m AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members FROM h${iters}a GROUP BY cluster_id)
       |SELECT s.cluster_id AS cluster_id, CAST(s.i - 1 AS INT) AS dim, m.n_members,
       |       s.x AS sum_x, round(s.x / m.n_members, 6) AS mean_x
       |FROM c${iters + 1} s JOIN m ON s.cluster_id = m.cluster_id
       |ORDER BY cluster_id, dim""".stripMargin

  /** Hier-trained + hier-queried IVF: the hier Lloyd rounds' converged
    * centroid sums (cf) feed ONE more hier assignment pass (prefix `f`) —
    * its per-vector group-member ccos relation yields both the corpus
    * assignment (r = 1) and the within-group nProbe probe ring (r <= 4),
    * then the proven candidate/rerank tail. */
  private def ivfTrainedHierOracleSql(iters: Int, g: Int,
                                      samplePct: Int = 100): String =
    s"""${hierKmeansCtes(iters, g, samplePct)},
       |cf AS MATERIALIZED (SELECT cluster_id, i, x FROM c${iters + 1}),
       |nf AS MATERIALIZED (SELECT cluster_id, CAST(sum(x * x) AS BIGINT) AS n FROM cf GROUP BY cluster_id),
       |${hierAssignCtes("cf", "nf", g, "f")},
       |assigned AS (SELECT vec_id, cluster_id AS list_id FROM fa),
       |probes AS (SELECT vec_id AS query_id, cent_id AS list_id FROM
       |           (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS r
       |            FROM fccos WHERE vec_id < 10) WHERE r <= 4),
       |cand AS (SELECT p.query_id, a.vec_id, a.list_id
       |         FROM probes p JOIN assigned a ON p.list_id = a.list_id AND a.vec_id != p.query_id),
       |dots AS (SELECT cand.query_id, cand.vec_id, cand.list_id, CAST(sum(qq.x * qv.x) AS BIGINT) AS dot
       |         FROM cand JOIN q qq ON qq.vec_id = cand.query_id
       |                   JOIN q qv ON qv.vec_id = cand.vec_id AND qq.i = qv.i
       |         GROUP BY cand.query_id, cand.vec_id, cand.list_id),
       |scored AS (SELECT dots.query_id AS query_id, dots.vec_id AS vec_id, dots.list_id AS list_id,
       |             dot / (sqrt(CAST(nq.n AS DOUBLE)) * sqrt(CAST(nv.n AS DOUBLE))) AS cosine
       |           FROM dots JOIN nrm nq ON dots.query_id = nq.vec_id
       |                     JOIN nrm nv ON dots.vec_id = nv.vec_id),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
       |           FROM scored)
       |SELECT query_id, CAST(rank AS INT) AS rank, vec_id AS neighbor_id,
       |       round(cosine, 6) AS cosine, list_id
       |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Trained topic cards: [[kmeansCtes]]' final centroid sums become the
    * assignment quantizer (ivfTrained's cf/nf/ccos/assigned CTEs), the
    * assignment joins `documents` on vec_id = doc_id (the embedded
    * slice), and the exact-integer c-TF-IDF tail is pipeline_topic_cards'
    * verbatim — the chained-CTE composition of two green oracles. */
  private def topicCardsTrainedOracleSql(iters: Int): String =
    s"""${kmeansCtes(iters)},
       |cf AS (SELECT cluster_id, i, x FROM c${iters + 1}),
       |nf AS (SELECT cluster_id, CAST(sum(x * x) AS BIGINT) AS n FROM cf GROUP BY cluster_id),
       |cdots AS (SELECT qv.vec_id, cf.cluster_id AS cent_id, CAST(sum(qv.x * cf.x) AS BIGINT) AS dot
       |          FROM q qv JOIN cf ON qv.i = cf.i GROUP BY 1, 2),
       |ccos AS (SELECT cdots.vec_id AS vec_id, cdots.cent_id AS cent_id,
       |           dot / (sqrt(CAST(nv.n AS DOUBLE)) * sqrt(CAST(nf.n AS DOUBLE))) AS ccos
       |         FROM cdots JOIN nrm nv ON cdots.vec_id = nv.vec_id
       |                    JOIN nf ON cdots.cent_id = nf.cluster_id),
       |assigned AS (SELECT vec_id AS doc_id, cent_id AS cluster_id FROM
       |             (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS r
       |              FROM ccos) WHERE r = 1),
       |toks AS (SELECT a.cluster_id AS cluster_id, unnest(string_split(d.text, ' ')) AS term
       |         FROM assigned a JOIN documents d ON d.doc_id = a.doc_id),
       |tf AS (SELECT cluster_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
       |dfc AS (SELECT term, CAST(count(*) AS BIGINT) AS df_clusters FROM tf GROUP BY term),
       |ncl AS (SELECT CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters FROM tf),
       |scored AS (SELECT tf.cluster_id AS cluster_id, tf.term AS term, tf.tf AS tf,
       |             dfc.df_clusters AS df_clusters,
       |             tf.tf * ln(CAST(ncl.n_clusters AS DOUBLE) / dfc.df_clusters) AS score_raw
       |           FROM tf JOIN dfc ON tf.term = dfc.term CROSS JOIN ncl),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY cluster_id ORDER BY score_raw DESC, term ASC) AS rank
       |           FROM scored)
       |SELECT cluster_id, CAST(rank AS INT) AS rank, term, tf, df_clusters,
       |       round(score_raw, 6) AS score
       |FROM ranked WHERE rank <= 5 ORDER BY cluster_id, rank""".stripMargin

  /** `iters` chained per-subspace PQ-Lloyd rounds, replaying
    * [[graft.ext.Similarity.ivfPqTrainedTopK]]'s codebook training: k1 =
    * the seed rows' sub-vectors keyed by (m, k); each round computes exact
    * L2² distances (pd_t), the argmin assignment with lower-k tie-break
    * (pa_t), and the next codebook's TRUNCATING integer means (k_{t+1} —
    * the CASE'd `//` is trunc-toward-zero, matching Scala Long division).
    * Empty codewords drop via GROUP BY on both engines. */
  private def pqLloydCtes(iters: Int): String = {
    val blocks = (1 to iters).map { t =>
      s"""pd$t AS (SELECT s.vec_id, s.m, c.k, CAST(sum((s.x - c.x) * (s.x - c.x)) AS BIGINT) AS d2
         |         FROM sub s JOIN k$t c ON s.m = c.m AND s.d = c.d GROUP BY 1, 2, 3),
         |pa$t AS (SELECT vec_id, m, k FROM (
         |           SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2 ASC, k ASC) AS r
         |           FROM pd$t) WHERE r = 1),
         |pn$t AS (SELECT m, k, CAST(count(*) AS BIGINT) AS n FROM pa$t GROUP BY m, k),
         |k${t + 1} AS (SELECT a.m, a.k, s.d,
         |           CAST(CASE WHEN sum(s.x) >= 0 THEN sum(s.x) // pn.n
         |                ELSE -((-sum(s.x)) // pn.n) END AS BIGINT) AS x
         |         FROM pa$t a JOIN sub s ON s.vec_id = a.vec_id AND s.m = a.m
         |              JOIN pn$t pn ON pn.m = a.m AND pn.k = a.k
         |         GROUP BY a.m, a.k, s.d, pn.n)""".stripMargin
    }.mkString(",\n")
    s"""sub AS (SELECT vec_id, (i - 1) // 8 AS m, i - ((i - 1) // 8) * 8 AS d, x FROM q),
       |k1 AS (SELECT vec_id - 100 + 1 AS k, m, d, x FROM sub
       |       WHERE vec_id >= 100 AND vec_id < 116),
       |$blocks""".stripMargin
  }

  /** Both ANN stages trained: the kmeans coarse-quantizer CTEs and the
    * PQ-Lloyd codebook CTEs chained into the proven trained-IVF
    * assignment/probe CTEs and PQ ADC scoring. */
  private def ivfPqTrainedOracleSql(iters: Int): String =
    s"""${kmeansCtes(iters)},
       |cf AS (SELECT cluster_id, i, x FROM c${iters + 1}),
       |nf AS (SELECT cluster_id, CAST(sum(x * x) AS BIGINT) AS n FROM cf GROUP BY cluster_id),
       |cdots AS (SELECT qv.vec_id, cf.cluster_id AS cent_id, CAST(sum(qv.x * cf.x) AS BIGINT) AS dot
       |          FROM q qv JOIN cf ON qv.i = cf.i GROUP BY 1, 2),
       |ccos AS (SELECT cdots.vec_id AS vec_id, cdots.cent_id AS cent_id,
       |           dot / (sqrt(CAST(nv.n AS DOUBLE)) * sqrt(CAST(nf.n AS DOUBLE))) AS ccos
       |         FROM cdots JOIN nrm nv ON cdots.vec_id = nv.vec_id
       |                    JOIN nf ON cdots.cent_id = nf.cluster_id),
       |assigned AS (SELECT vec_id, cent_id AS list_id FROM
       |             (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS r
       |              FROM ccos) WHERE r = 1),
       |probes AS (SELECT vec_id AS query_id, cent_id AS list_id FROM
       |           (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS r
       |            FROM ccos WHERE vec_id < 10) WHERE r <= 4),
       |${pqLloydCtes(iters)},
       |fd AS (SELECT s.vec_id, s.m, c.k, CAST(sum((s.x - c.x) * (s.x - c.x)) AS BIGINT) AS d2
       |       FROM sub s JOIN k${iters + 1} c ON s.m = c.m AND s.d = c.d GROUP BY 1, 2, 3),
       |codes AS (SELECT vec_id, m, k AS code FROM (
       |            SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2 ASC, k ASC) AS r
       |            FROM fd) WHERE r = 1),
       |cand AS (SELECT p.query_id, a.vec_id, a.list_id
       |         FROM probes p JOIN assigned a ON p.list_id = a.list_id AND a.vec_id != p.query_id),
       |adist AS (SELECT cand.query_id AS query_id, cand.vec_id AS vec_id, cand.list_id AS list_id,
       |            CAST(sum(qd.d2) AS BIGINT) AS adist
       |          FROM cand JOIN codes c ON c.vec_id = cand.vec_id
       |                    JOIN fd qd ON qd.vec_id = cand.query_id AND qd.m = c.m AND qd.k = c.code
       |          GROUP BY 1, 2, 3),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist ASC, vec_id ASC) AS rank
       |           FROM adist)
       |SELECT query_id, CAST(rank AS INT) AS rank, vec_id AS neighbor_id, adist, list_id
       |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  def oracles: Map[String, String] = Map(
    "text_quality" ->
      """SELECT doc_id,
        |  CAST(length(text) AS INT) AS n_chars,
        |  CAST(len(string_split(text, ' ')) AS INT) AS n_words,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct_words,
        |  CAST(len(list_filter(string_split(text, ' '), t -> t = 'a' OR t = 'the')) AS INT) AS n_stopwords,
        |  round(length(text) / len(string_split(text, ' ')), 6) AS chars_per_word,
        |  round(len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' ')), 6) AS type_token_ratio,
        |  round(len(list_filter(string_split(text, ' '), t -> t = 'a' OR t = 'the')) / len(string_split(text, ' ')), 6) AS stopword_ratio,
        |  round(100e0 * len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' '))
        |    * least(1e0, len(string_split(text, ' ')) / 30e0), 6) AS quality_score
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_tokens" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS bpe_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS distinct_tokens,
        |  round(length(text) / len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')), 6) AS chars_per_bpe_token
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_fingerprint" ->
      """SELECT doc_id, md5(text) AS fp_md5,
        |  list_reduce(list_prepend(CAST(7 AS BIGINT),
        |      list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
        |    (acc, c) -> (acc * 31 + c) % 1000000007) AS fp_rolling
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_df_index" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
        |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |ranked AS (SELECT doc_id, term, tf,
        |             row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, term ASC) AS rank
        |           FROM tf)
        |SELECT r.doc_id AS doc_id, CAST(r.rank AS INT) AS rank, r.term AS term, r.tf AS tf, dft.df AS df
        |FROM ranked r JOIN dft ON r.term = dft.term
        |WHERE r.rank <= 5 ORDER BY doc_id, rank""".stripMargin,

    // same tokenization as text_df_index; idf = the exact integer rarity
    // weight 1e6 // df (the text_search convention — no libm ln)
    "text_tfidf_terms" ->
      """WITH toks AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT source, term, count(*) AS tf FROM toks GROUP BY source, term),
        |dft AS (SELECT term, count(*) AS df
        |        FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY term),
        |s AS (SELECT source, tf.term AS term, tf, df, tf * (1000000 // df) AS score
        |      FROM tf JOIN dft ON tf.term = dft.term),
        |r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY score DESC, term ASC) AS rank
        |      FROM s)
        |SELECT source, CAST(rank AS INT) AS rank, term, CAST(tf AS BIGINT) AS tf,
        |       CAST(df AS BIGINT) AS df, CAST(score AS BIGINT) AS score
        |FROM r WHERE rank <= 10 ORDER BY source, rank""".stripMargin,

    "text_langid" ->
      s"""$langidCtes
        |SELECT doc_id, cand AS pred_lang, actual,
        |       CASE WHEN cand = actual THEN 1 ELSE 0 END AS correct
        |FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // the langid CTEs' per-doc argmax grouped into the confusion matrix;
    // recall = one IEEE division of exact counts
    "text_langid_confusion" ->
      s"""$langidCtes,
        |pred AS (SELECT doc_id, cand AS pred_lang, actual FROM ranked WHERE rn = 1),
        |n AS (SELECT actual, pred_lang, count(*) AS n FROM pred GROUP BY 1, 2),
        |t AS (SELECT actual, count(*) AS n_actual FROM pred GROUP BY 1)
        |SELECT n.actual AS actual, pred_lang, n, n_actual, round(n / n_actual, 6) AS recall
        |FROM n JOIN t USING (actual) ORDER BY actual, pred_lang""".stripMargin,

    // closed-form training replay: Gopher-rule labels, hashed presence
    // features (content unigrams + 4 binned structural tokens — the #w
    // bin via length(bin()) is integer-exact, no IEEE log at a boundary),
    // langid's fixed-point weight formula over class doc-presence rates,
    // score = sum of distinct-bucket weights
    "text_quality_model" ->
      s"""$qualityModelCtes
        |SELECT sc.doc_id AS doc_id, lab.label, sc.score,
        |       CAST(sc.score > 0 AS BIGINT) AS pred,
        |       CAST((sc.score > 0) = (lab.label = 1) AS BIGINT) AS correct
        |FROM sc JOIN lab ON sc.doc_id = lab.doc_id
        |ORDER BY doc_id""".stripMargin,

    "text_quality_model_eval" ->
      s"""$qualityModelCtes,
        |p AS (SELECT lab.label AS label, CAST(sc.score > 0 AS BIGINT) AS pred
        |      FROM sc JOIN lab ON sc.doc_id = lab.doc_id),
        |n AS (SELECT label, pred, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY 1, 2),
        |t AS (SELECT label, CAST(count(*) AS BIGINT) AS n_label FROM p GROUP BY 1)
        |SELECT n.label AS label, n.pred, n.n, t.n_label, round(n.n / t.n_label, 6) AS rate
        |FROM n JOIN t USING (label) ORDER BY label, pred""".stripMargin,

    // corpus-wide scoring with the SAME train-fold weights: every doc
    // (train fold included, flagged) gets a score — the deployable filter
    "text_quality_score" ->
      s"""$qualityModelCtes,
        |sca AS (SELECT doc_id, CAST(coalesce(sum(wt), 0) AS BIGINT) AS score
        |        FROM b LEFT JOIN wt USING (dim) GROUP BY doc_id)
        |SELECT doc_id, score, CAST(score > 0 AS BIGINT) AS pred,
        |       CAST(doc_id % 5 != 0 AS BIGINT) AS in_train
        |FROM sca ORDER BY doc_id""".stripMargin,

    // stored-model serving: training is deterministic, so the published
    // weights equal a fresh train and the stored scorer answers the SAME
    // relation as the in-line corpus-wide pass (minus the trainer's fold
    // flag — the store serves scoring, folds are the trainer's concern)
    "text_quality_score_stored" ->
      s"""$qualityModelCtes,
        |sca AS (SELECT doc_id, CAST(coalesce(sum(wt), 0) AS BIGINT) AS score
        |        FROM b LEFT JOIN wt USING (dim) GROUP BY doc_id)
        |SELECT doc_id, score, CAST(score > 0 AS BIGINT) AS pred
        |FROM sca ORDER BY doc_id""".stripMargin,

    // calibration: the same trained-score chain (sc = held-out scores),
    // fixed-width bins via floor of an exact-int IEEE division, exact
    // per-bin counts, one division per bin
    "text_quality_calibration" ->
      s"""$qualityModelCtes,
        |cal AS (SELECT CAST(floor(score / 1000.0) AS BIGINT) AS bin, label
        |        FROM sc JOIN lab USING (doc_id)),
        |agg AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
        |               CAST(sum(label) AS BIGINT) AS n_pass
        |        FROM cal GROUP BY bin)
        |SELECT bin, CAST(bin * 1000 AS BIGINT) AS bin_lo, n_docs, n_pass,
        |       round(n_pass / CAST(n_docs AS DOUBLE), 6) AS pass_rate
        |FROM agg ORDER BY bin""".stripMargin,

    "dedup_exact" ->
      """SELECT doc_id, lang, source, n_chars, n_copies FROM (
        |  SELECT *, count(*) OVER (PARTITION BY md5(substr(text, 1, 80))) AS n_copies,
        |         min(doc_id) OVER (PARTITION BY md5(substr(text, 1, 80))) AS keeper
        |  FROM documents) WHERE doc_id = keeper ORDER BY doc_id""".stripMargin,

    // cap 50 never binds at sf0.01 (max observed shingle DF = 7/500 docs),
    // so the rule is verified as a no-op here while bounding the self-join
    // skew at scale
    "dedup_ngram_jaccard" -> jaccardPairsSql("0.5", maxDocFreq = Some(50)),

    // asymmetric containment from the SAME intersection relation: both
    // directions projected, judged separately against the bar
    "dedup_containment" ->
      s"""WITH ${jaccardCtes(Some(50))},
         |sized AS (SELECT a, b, c, sa.n_sh AS na, sb.n_sh AS nb
         |          FROM inter JOIN sz sa ON inter.a = sa.doc_id
         |                     JOIN sz sb ON inter.b = sb.doc_id),
         |d AS (SELECT a AS contained, b AS container, c / na AS containment FROM sized
         |      UNION ALL
         |      SELECT b AS contained, a AS container, c / nb AS containment FROM sized)
         |SELECT contained, container, round(containment, 6) AS containment
         |FROM d WHERE containment >= 0.6 ORDER BY contained, container""".stripMargin,

    // MinHash-LSH's oracle is the exact-Jaccard pair set: with 128 perms in
    // 32 bands × 4 rows, P[a J≥0.8 pair misses every band] ≈ 5e-8, and all
    // candidates are verified with exact Jaccard — so the approximate
    // pipeline equals the exact answer with near-certainty.
    "dedup_minhash_lsh" -> jaccardPairsSql("0.8"),

    // edit-distance certificate on the exact-Jaccard pair set (band
    // recall at J>=0.8 ~ 1, the minhash oracle argument); DuckDB's own
    // levenshtein replays the capped distance as a CASE, the copy/reorder
    // verdict is the same exact integer compare (5*dist <= max_len)
    "dedup_edit_verified" ->
      s"""WITH ${jaccardCtes(None)},
         |p AS (SELECT a, b, round(c / (sa.n_sh + sb.n_sh - c), 6) AS jaccard
         |      FROM inter JOIN sz sa ON inter.a = sa.doc_id
         |                 JOIN sz sb ON inter.b = sb.doc_id
         |      WHERE c / (sa.n_sh + sb.n_sh - c) >= 0.8),
         |e AS (SELECT p.a, p.b, p.jaccard,
         |        CAST(CASE WHEN levenshtein(da.text, db.text) <= 64
         |             THEN levenshtein(da.text, db.text) ELSE -1 END AS BIGINT) AS edit_dist,
         |        CAST(greatest(length(da.text), length(db.text)) AS BIGINT) AS max_len
         |      FROM p JOIN documents da ON p.a = da.doc_id
         |             JOIN documents db ON p.b = db.doc_id)
         |SELECT a, b, jaccard, edit_dist, max_len,
         |       CASE WHEN edit_dist >= 0 AND edit_dist * 5 <= max_len
         |            THEN 'copy' ELSE 'reorder' END AS verdict
         |FROM e ORDER BY a, b""".stripMargin,

    // the decision layer: transitive closure over the COPY-verdict edges
    // only, collapsed to keeper + member count per cluster
    "dedup_edit_clusters" ->
      s"""WITH RECURSIVE ${jaccardCtes(None)},
         |p AS (SELECT a, b
         |      FROM inter JOIN sz sa ON inter.a = sa.doc_id
         |                 JOIN sz sb ON inter.b = sb.doc_id
         |      WHERE c / (sa.n_sh + sb.n_sh - c) >= 0.8),
         |jp AS (SELECT p.a, p.b
         |       FROM p JOIN documents da ON p.a = da.doc_id
         |              JOIN documents db ON p.b = db.doc_id
         |       WHERE levenshtein(da.text, db.text) <= 64
         |         AND levenshtein(da.text, db.text) * 5
         |             <= greatest(length(da.text), length(db.text))),
         |nodes AS (SELECT a AS id FROM jp UNION SELECT b FROM jp),
         |edges AS (SELECT a AS id, b AS nbr FROM jp UNION ALL SELECT b, a FROM jp),
         |reach(id, label) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.id, r.label FROM edges e JOIN reach r ON e.nbr = r.id),
         |cl AS (SELECT id AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
         |       FROM reach GROUP BY id)
         |SELECT cluster_id, min(doc_id) AS keeper_id, count(*) AS n_members
         |FROM cl GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,

    // cross-side exact-Jaccard: historical (doc_id % 7 != 0) × incoming
    // (doc_id % 7 = 0); the engine's band join has P[miss | J>=0.8] ~ 5e-8
    "dedup_incremental" -> incrementalOracleSql,

    // fuzzy decontamination: the same LSH ≡ exact-pairs argument under the
    // % 11 eval split; one oracle proves in-line and eval-band-store probe
    "pipeline_decontaminate_fuzzy" -> decontaminateFuzzyOracleSql,
    "pipeline_decontaminate_fuzzy_stored" -> decontaminateFuzzyOracleSql,

    // substring spans: replays the 60-bit md5 window hash (decontaminate's
    // convention) positionally, the cross-doc dup filter, and the
    // gap<=k span merge; one IEEE division at the end
    "dedup_spans" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |base AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words FROM toks),
        |wins AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |           CAST(list_sum(list_transform(range(0, 15), k ->
        |             CAST(strpos('0123456789abcdef', substr(md5(array_to_string(w[i:i+7], ' ')), CAST(k AS INT) + 1, 1)) - 1 AS BIGINT)
        |               << CAST(4 * (14 - k) AS INT))) AS BIGINT) AS h
        |         FROM toks, unnest(range(1, len(w) - 6)) AS r(i)
        |         WHERE len(w) >= 8),
        |dup AS (SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        |hits AS (SELECT doc_id, pos FROM wins JOIN dup USING (h)),
        |sp AS (SELECT doc_id, pos,
        |         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
        |              THEN 0 ELSE 1 END AS new_span
        |       FROM hits),
        |gp AS (SELECT doc_id, pos,
        |         sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id FROM sp),
        |spans AS (SELECT doc_id, span_id, min(pos) AS lo, max(pos) AS hi, count(*) AS nw
        |          FROM gp GROUP BY doc_id, span_id),
        |per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |               CAST(sum(nw) AS BIGINT) AS n_dup_windows,
        |               CAST(sum(hi - lo + 8) AS BIGINT) AS n_dup_tokens
        |        FROM spans GROUP BY doc_id)
        |SELECT b.doc_id AS doc_id, b.n_words,
        |       CAST(coalesce(per.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
        |       CAST(coalesce(per.n_spans, 0) AS BIGINT) AS n_spans,
        |       CAST(coalesce(per.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
        |       round(CAST(coalesce(per.n_dup_tokens, 0) AS BIGINT) / b.n_words, 6) AS dup_frac
        |FROM base b LEFT JOIN per ON per.doc_id = b.doc_id
        |ORDER BY b.doc_id""".stripMargin,

    // span clean: dedup_spans CTEs + the action CASE; unrounded dup_frac
    // comparison on both sides (n_dup_tokens/n_words > 0.5 exactly)
    "pipeline_span_clean" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |base AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words FROM toks),
        |wins AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |           CAST(list_sum(list_transform(range(0, 15), k ->
        |             CAST(strpos('0123456789abcdef', substr(md5(array_to_string(w[i:i+7], ' ')), CAST(k AS INT) + 1, 1)) - 1 AS BIGINT)
        |               << CAST(4 * (14 - k) AS INT))) AS BIGINT) AS h
        |         FROM toks, unnest(range(1, len(w) - 6)) AS r(i)
        |         WHERE len(w) >= 8),
        |dup AS (SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        |hits AS (SELECT doc_id, pos FROM wins JOIN dup USING (h)),
        |sp AS (SELECT doc_id, pos,
        |         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
        |              THEN 0 ELSE 1 END AS new_span
        |       FROM hits),
        |gp AS (SELECT doc_id, pos,
        |         sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id FROM sp),
        |spans AS (SELECT doc_id, span_id, min(pos) AS lo, max(pos) AS hi, count(*) AS nw
        |          FROM gp GROUP BY doc_id, span_id),
        |per AS (SELECT doc_id, CAST(sum(hi - lo + 8) AS BIGINT) AS n_dup_tokens
        |        FROM spans GROUP BY doc_id),
        |j AS (SELECT b.doc_id, b.n_words,
        |             CAST(coalesce(per.n_dup_tokens, 0) AS BIGINT) AS ndt
        |      FROM base b LEFT JOIN per ON per.doc_id = b.doc_id)
        |SELECT doc_id, n_words, round(ndt / n_words, 6) AS dup_frac,
        |       CASE WHEN 2 * ndt > n_words THEN 'drop'
        |            WHEN ndt > 0 THEN 'cut' ELSE 'keep' END AS action,
        |       CASE WHEN 2 * ndt > n_words THEN CAST(0 AS BIGINT)
        |            ELSE n_words - ndt END AS tokens_kept
        |FROM j ORDER BY doc_id""".stripMargin,

    // keep-first span dedup: the span_clean CTEs with a per-hash KEEPER
    // (min doc_id) carried out of the dup aggregation, and the hits
    // relation excluding the keeper's own rows — first occurrence keeps
    "pipeline_span_dedup_once" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |base AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words FROM toks),
        |wins AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |           CAST(list_sum(list_transform(range(0, 15), k ->
        |             CAST(strpos('0123456789abcdef', substr(md5(array_to_string(w[i:i+7], ' ')), CAST(k AS INT) + 1, 1)) - 1 AS BIGINT)
        |               << CAST(4 * (14 - k) AS INT))) AS BIGINT) AS h
        |         FROM toks, unnest(range(1, len(w) - 6)) AS r(i)
        |         WHERE len(w) >= 8),
        |dup AS (SELECT h, min(doc_id) AS keeper FROM wins
        |        GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        |hits AS (SELECT wins.doc_id AS doc_id, pos FROM wins JOIN dup USING (h)
        |         WHERE wins.doc_id <> dup.keeper),
        |sp AS (SELECT doc_id, pos,
        |         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
        |              THEN 0 ELSE 1 END AS new_span
        |       FROM hits),
        |gp AS (SELECT doc_id, pos,
        |         sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id FROM sp),
        |spans AS (SELECT doc_id, span_id, min(pos) AS lo, max(pos) AS hi
        |          FROM gp GROUP BY doc_id, span_id),
        |per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |               CAST(sum(hi - lo + 8) AS BIGINT) AS n_cut
        |        FROM spans GROUP BY doc_id),
        |j AS (SELECT b.doc_id, b.n_words,
        |             CAST(coalesce(per.n_spans, 0) AS BIGINT) AS n_cut_spans,
        |             CAST(coalesce(per.n_cut, 0) AS BIGINT) AS nct
        |      FROM base b LEFT JOIN per ON per.doc_id = b.doc_id)
        |SELECT doc_id, n_words, n_cut_spans, nct AS n_cut_tokens,
        |       round(nct / n_words, 6) AS cut_frac,
        |       CASE WHEN 2 * nct > n_words THEN 'drop'
        |            WHEN nct > 0 THEN 'cut' ELSE 'keep' END AS action,
        |       CASE WHEN 2 * nct > n_words THEN CAST(0 AS BIGINT)
        |            ELSE n_words - nct END AS tokens_kept
        |FROM j ORDER BY doc_id""".stripMargin,

    // stored keep-first span dedup: hist = distinct window hashes of the
    // %7!=0 slice (the store relation), probe = the %7==0 increment; cut =
    // (windows IN the store — history keeps) UNION (store-miss windows
    // duplicated within the increment, excluding the increment's own
    // min-doc keeper). The lag/sum window merge replays the engine's
    // aggregate-HOF fold — DIFFERENT machinery, so the hash match also
    // cross-checks the fold (the dedup_spans_stored discipline)
    "pipeline_span_dedup_once_stored" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |wins0 AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |           CAST(list_sum(list_transform(range(0, 15), k ->
        |             CAST(strpos('0123456789abcdef', substr(md5(array_to_string(w[i:i+7], ' ')), CAST(k AS INT) + 1, 1)) - 1 AS BIGINT)
        |               << CAST(4 * (14 - k) AS INT))) AS BIGINT) AS h
        |         FROM toks, unnest(range(1, len(w) - 6)) AS r(i)
        |         WHERE len(w) >= 8),
        |hist AS (SELECT DISTINCT h FROM wins0 WHERE doc_id % 7 <> 0),
        |base AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words FROM toks
        |         WHERE doc_id % 7 = 0),
        |wins AS (SELECT * FROM wins0 WHERE doc_id % 7 = 0),
        |hist_hits AS (SELECT doc_id, pos FROM wins WHERE h IN (SELECT h FROM hist)),
        |freshw AS (SELECT * FROM wins WHERE h NOT IN (SELECT h FROM hist)),
        |dupnew AS (SELECT h, min(doc_id) AS keeper FROM freshw
        |           GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        |new_hits AS (SELECT freshw.doc_id AS doc_id, pos
        |             FROM freshw JOIN dupnew USING (h)
        |             WHERE freshw.doc_id <> dupnew.keeper),
        |hits AS (SELECT * FROM hist_hits UNION SELECT * FROM new_hits),
        |sp AS (SELECT doc_id, pos,
        |         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
        |              THEN 0 ELSE 1 END AS new_span
        |       FROM hits),
        |gp AS (SELECT doc_id, pos,
        |         sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id FROM sp),
        |spans AS (SELECT doc_id, span_id, min(pos) AS lo, max(pos) AS hi
        |          FROM gp GROUP BY doc_id, span_id),
        |per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |               CAST(sum(hi - lo + 8) AS BIGINT) AS n_cut
        |        FROM spans GROUP BY doc_id),
        |j AS (SELECT b.doc_id, b.n_words,
        |             CAST(coalesce(per.n_spans, 0) AS BIGINT) AS n_cut_spans,
        |             CAST(coalesce(per.n_cut, 0) AS BIGINT) AS nct
        |      FROM base b LEFT JOIN per ON per.doc_id = b.doc_id)
        |SELECT doc_id, n_words, n_cut_spans, nct AS n_cut_tokens,
        |       round(nct / n_words, 6) AS cut_frac,
        |       CASE WHEN 2 * nct > n_words THEN 'drop'
        |            WHEN nct > 0 THEN 'cut' ELSE 'keep' END AS action,
        |       CASE WHEN 2 * nct > n_words THEN CAST(0 AS BIGINT)
        |            ELSE n_words - nct END AS tokens_kept
        |FROM j ORDER BY doc_id""".stripMargin,

    // spans against the stored index: store = distinct window hashes of
    // the %7!=0 slice, probe = %7==0 docs; the span merge is replayed
    // with lag/sum windows — DIFFERENT machinery than the engine's
    // aggregate-HOF fold, so a hash match also cross-checks the fold
    "dedup_spans_stored" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |wins AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |           CAST(list_sum(list_transform(range(0, 15), k ->
        |             CAST(strpos('0123456789abcdef', substr(md5(array_to_string(w[i:i+7], ' ')), CAST(k AS INT) + 1, 1)) - 1 AS BIGINT)
        |               << CAST(4 * (14 - k) AS INT))) AS BIGINT) AS h
        |         FROM toks, unnest(range(1, len(w) - 6)) AS r(i)
        |         WHERE len(w) >= 8),
        |stored AS (SELECT DISTINCT h FROM wins WHERE doc_id % 7 != 0),
        |inc AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words FROM toks WHERE doc_id % 7 = 0),
        |hits AS (SELECT DISTINCT doc_id, pos FROM wins JOIN stored USING (h)
        |         WHERE doc_id % 7 = 0),
        |sp AS (SELECT doc_id, pos,
        |         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
        |              THEN 0 ELSE 1 END AS new_span
        |       FROM hits),
        |gp AS (SELECT doc_id, pos,
        |         sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id FROM sp),
        |spans AS (SELECT doc_id, span_id, min(pos) AS lo, max(pos) AS hi, count(*) AS nw
        |          FROM gp GROUP BY doc_id, span_id),
        |per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |               CAST(sum(nw) AS BIGINT) AS n_dup_windows,
        |               CAST(sum(hi - lo + 8) AS BIGINT) AS n_dup_tokens
        |        FROM spans GROUP BY doc_id)
        |SELECT inc.doc_id AS doc_id, inc.n_words,
        |       CAST(coalesce(per.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
        |       CAST(coalesce(per.n_spans, 0) AS BIGINT) AS n_spans,
        |       CAST(coalesce(per.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
        |       round(CAST(coalesce(per.n_dup_tokens, 0) AS BIGINT) / inc.n_words, 6) AS dup_frac
        |FROM inc LEFT JOIN per ON per.doc_id = inc.doc_id
        |ORDER BY inc.doc_id""".stripMargin,

    // span overlap: same 60-bit window hash, distinct (source, h)
    // incidence, hash-keyed pair self-join, broadcast totals
    "dedup_span_overlap" ->
      """WITH toks AS (SELECT source, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT source,
        |         CAST(list_sum(list_transform(range(0, 15), k ->
        |           CAST(strpos('0123456789abcdef', substr(md5(array_to_string(w[i:i+7], ' ')), CAST(k AS INT) + 1, 1)) - 1 AS BIGINT)
        |             << CAST(4 * (14 - k) AS INT))) AS BIGINT) AS h
        |       FROM toks, unnest(range(1, len(w) - 6)) AS r(i)
        |       WHERE len(w) >= 8),
        |totals AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY source),
        |pairs AS (SELECT s1.source AS a, s2.source AS b, CAST(count(*) AS BIGINT) AS n_shared
        |          FROM sh s1 JOIN sh s2 ON s1.h = s2.h AND s1.source < s2.source
        |          GROUP BY s1.source, s2.source)
        |SELECT p.a, p.b, p.n_shared, ta.n AS n_a, tb.n AS n_b,
        |       round(p.n_shared / least(ta.n, tb.n), 6) AS overlap
        |FROM pairs p JOIN totals ta ON ta.source = p.a JOIN totals tb ON tb.source = p.b
        |ORDER BY p.a, p.b""".stripMargin,

    // the stored-index variant computes the SAME relation — the store is a
    // materialization of the historical band index, not a semantic change
    "dedup_incremental_stored" -> incrementalOracleSql,

    // ingest triage: the exact-key relation and the cross-side jaccard
    // relation are the two proven oracles, composed; best-near ranks on
    // the ROUNDED jaccard (both engines emit round(j, 6)) with hist_id
    // tie-break; verdict precedence exact > near > fresh, near columns
    // populated whenever a match exists
    "pipeline_ingest_triage" -> ingestTriageOracleSql,
    // the stored composite computes the SAME relation — the triage store
    // (Bloom gate + key confirmation + band index) is a materialization
    // of the in-line composite's historical halves, not a semantic change
    "pipeline_ingest_triage_stored" -> ingestTriageOracleSql,

    // Bloom gate: exact_dup replayed exactly on the shared content key
    // (dedup_exact's 80-char prefix); the engine-specific bit-array
    // verdicts surface only through their GUARANTEES, pinned as constants
    // — missed_by_bloom FALSE (a Bloom filter has no false negatives),
    // fp_within_bound TRUE (measured FP rate <= 3x fpp) — so a violated
    // guarantee hash-mismatches (the checked-projection discipline the
    // HLL and zlib queries use)
    "dedup_bloom_gate" -> bloomGateOracleSql,
    // build(odd half) + append(even half) covers exactly history = the
    // full %7<>0 slice, and the bitwise merge is order-independent, so
    // the stored gate answers the SAME relation as the in-line gate
    "dedup_bloom_stored" -> bloomGateOracleSql,

    // k-means to convergence: 3 chained Lloyd rounds. Centroids after
    // round 1 are the UNNORMALIZED member-sum vectors (cosine is
    // scale-invariant, and integer sums keep every dot/norm exact across
    // engines); assignment ties break to the lower cluster_id, exactly the
    // engine's array_position first-max.
    "embedding_kmeans_run" -> kmeansRunOracleSql(3),
    // the HIER trainer: every round replays leader grouping + two-level
    // argmax (both tie rules) before the same member-sum centroid update
    "embedding_kmeans_run_hier" -> kmeansRunHierOracleSql(3, 4),

    // trained-quantizer IVF: kmeans CTEs chained into the ivf CTEs
    "pipeline_ann_trained" -> ivfTrainedOracleSql(3),
    // hier rounds chained into one more hier assignment pass over the
    // converged centroids, then the proven candidate/rerank tail
    "pipeline_ann_trained_hier" -> ivfTrainedHierOracleSql(3, 4),
    // the stored trained index MATERIALIZES that relation (frozen trained
    // quantizer + hier scheme recorded in the snapshot), so the in-line
    // trained-hier oracle proves train, publish, and probe in one hash
    "pipeline_ann_trained_hier_stored" -> ivfTrainedHierOracleSql(3, 4),
    // sampled training: rounds over the md5-bucket 40% slice (+ seeds,
    // the strpos hex fold), full-corpus assignment/probe tail unchanged
    "pipeline_ann_sampled_trained" -> ivfTrainedHierOracleSql(3, 4, 40),
    "embedding_kmeans_sampled" -> kmeansRunHierOracleSql(3, 4, 40),
    "similarity_ivfpq_trained" -> ivfPqTrainedOracleSql(3),

    // trained topic cards: kmeans CTEs chained into the c-TF-IDF CTEs
    "pipeline_topic_cards_trained" -> topicCardsTrainedOracleSql(3),

    // the engine's banded LSH has P[miss | J>=0.8] ~ 5e-8, so the pair set
    // equals the exact-Jaccard pairs; the cluster ids are then the TRUE
    // transitive closure, computed here with a recursive CTE (min label
    // reachable), matching the engine's label-propagation fixpoint.
    "dedup_clusters" ->
      s"""WITH RECURSIVE ${jaccardCtes(None)},
         |jp AS (SELECT a, b
         |       FROM inter JOIN sz sa ON inter.a = sa.doc_id JOIN sz sb ON inter.b = sb.doc_id
         |       WHERE c / (sa.n_sh + sb.n_sh - c) >= 0.8),
         |nodes AS (SELECT a AS id FROM jp UNION SELECT b FROM jp),
         |edges AS (SELECT a AS id, b AS nbr FROM jp UNION ALL SELECT b, a FROM jp),
         |reach(id, label) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.id, r.label FROM edges e JOIN reach r ON e.nbr = r.id)
         |SELECT id AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,

    // leakage-free split: the same transitive-closure cluster labels,
    // singletons coalesced to their own doc_id, then the SAME md5 hex-region
    // bucket as pipeline_split_sample — keyed on cluster_id, so cluster
    // members share a split by construction
    "pipeline_cluster_split" ->
      s"""WITH RECURSIVE ${jaccardCtes(None)},
         |jp AS (SELECT a, b
         |       FROM inter JOIN sz sa ON inter.a = sa.doc_id JOIN sz sb ON inter.b = sb.doc_id
         |       WHERE c / (sa.n_sh + sb.n_sh - c) >= 0.8),
         |nodes AS (SELECT a AS id FROM jp UNION SELECT b FROM jp),
         |edges AS (SELECT a AS id, b AS nbr FROM jp UNION ALL SELECT b, a FROM jp),
         |reach(id, label) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.id, r.label FROM edges e JOIN reach r ON e.nbr = r.id),
         |cl AS (SELECT id AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
         |       FROM reach GROUP BY id),
         |lab AS (SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS cluster_id
         |        FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
         |b AS (SELECT doc_id, cluster_id,
         |  CAST(list_sum(list_transform(range(0, 4), k ->
         |    CAST(strpos('0123456789abcdef', substr(md5(CAST(cluster_id AS VARCHAR)), CAST(k AS INT) + 1, 1)) - 1 AS BIGINT)
         |      << CAST(4 * (3 - k) AS INT))) AS BIGINT) % 100 AS sb
         |  FROM lab)
         |SELECT doc_id, cluster_id,
         |       CASE WHEN sb < 10 THEN 'val' WHEN sb < 20 THEN 'test' ELSE 'train' END AS split
         |FROM b ORDER BY doc_id""".stripMargin,

    // near-dup composite: the keepers closure + the quality gate chained;
    // non-keepers = cluster members above the per-cluster min
    "pipeline_near_dedup" ->
      s"""WITH RECURSIVE ${jaccardCtes(None)},
         |jp AS (SELECT a, b
         |       FROM inter JOIN sz sa ON inter.a = sa.doc_id JOIN sz sb ON inter.b = sb.doc_id
         |       WHERE c / (sa.n_sh + sb.n_sh - c) >= 0.8),
         |nodes AS (SELECT a AS id FROM jp UNION SELECT b FROM jp),
         |edges AS (SELECT a AS id, b AS nbr FROM jp UNION ALL SELECT b, a FROM jp),
         |reach(id, label) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.id, r.label FROM edges e JOIN reach r ON e.nbr = r.id),
         |cl AS (SELECT id AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
         |       FROM reach GROUP BY id),
         |nonkeep AS (SELECT doc_id FROM
         |             (SELECT doc_id, min(doc_id) OVER (PARTITION BY cluster_id) AS keeper
         |              FROM cl) WHERE doc_id != keeper),
         |q AS (SELECT doc_id,
         |        round(100e0 * len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' '))
         |          * least(1e0, len(string_split(text, ' ')) / 30e0), 6) AS quality_score
         |      FROM documents)
         |SELECT doc_id, quality_score FROM q
         |WHERE quality_score >= 50.0 AND doc_id NOT IN (SELECT doc_id FROM nonkeep)
         |ORDER BY doc_id""".stripMargin,

    // exact interpolated quantiles: percentile == quantile_cont definition;
    // the sum goes through decimals (order-insensitive)
    "events_value_stats" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18, 6))) AS DOUBLE) AS sum_value,
        |       round(quantile_cont(value, 0.5e0), 6) AS p50_value,
        |       round(quantile_cont(value, 0.9e0), 6) AS p90_value,
        |       round(quantile_cont(value, 0.99e0), 6) AS p99_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "dedup_keepers" ->
      s"""WITH RECURSIVE ${jaccardCtes(None)},
         |jp AS (SELECT a, b
         |       FROM inter JOIN sz sa ON inter.a = sa.doc_id JOIN sz sb ON inter.b = sb.doc_id
         |       WHERE c / (sa.n_sh + sb.n_sh - c) >= 0.8),
         |nodes AS (SELECT a AS id FROM jp UNION SELECT b FROM jp),
         |edges AS (SELECT a AS id, b AS nbr FROM jp UNION ALL SELECT b, a FROM jp),
         |reach(id, label) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.id, r.label FROM edges e JOIN reach r ON e.nbr = r.id),
         |cl AS (SELECT id AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
         |       FROM reach GROUP BY id)
         |SELECT cluster_id, min(doc_id) AS keeper_id, count(*) AS n_members
         |FROM cl GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,

    // keep-most-complete keeper: longest copy wins, tie -> min doc_id
    "dedup_keepers_ranked" ->
      s"""WITH RECURSIVE ${jaccardCtes(None)},
         |jp AS (SELECT a, b
         |       FROM inter JOIN sz sa ON inter.a = sa.doc_id JOIN sz sb ON inter.b = sb.doc_id
         |       WHERE c / (sa.n_sh + sb.n_sh - c) >= 0.8),
         |nodes AS (SELECT a AS id FROM jp UNION SELECT b FROM jp),
         |edges AS (SELECT a AS id, b AS nbr FROM jp UNION ALL SELECT b, a FROM jp),
         |reach(id, label) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.id, r.label FROM edges e JOIN reach r ON e.nbr = r.id),
         |cl AS (SELECT id AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
         |       FROM reach GROUP BY id),
         |wl AS (SELECT cl.doc_id, cl.cluster_id, CAST(length(d.text) AS BIGINT) AS len
         |       FROM cl JOIN documents d ON cl.doc_id = d.doc_id),
         |rk AS (SELECT cluster_id, doc_id, len,
         |         row_number() OVER (PARTITION BY cluster_id
         |                            ORDER BY len DESC, doc_id ASC) AS rn
         |       FROM wl),
         |cnt AS (SELECT cluster_id, count(*) AS n_members FROM wl GROUP BY 1)
         |SELECT rk.cluster_id, rk.doc_id AS keeper_id, rk.len AS keeper_len,
         |       cnt.n_members
         |FROM rk JOIN cnt ON rk.cluster_id = cnt.cluster_id
         |WHERE rk.rn = 1 ORDER BY rk.cluster_id""".stripMargin,

    "text_chunk" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |c AS (SELECT doc_id, k.k AS chunk_no, w[(k.k * 24 + 1):(k.k * 24 + 32)] AS chunk
        |      FROM t, (SELECT unnest(range(0, 64)) AS k) k
        |      WHERE k.k * 24 < len(w))
        |SELECT doc_id, CAST(chunk_no AS INT) AS chunk_no,
        |       CAST(len(chunk) AS INT) AS n_tokens,
        |       md5(array_to_string(chunk, ' ')) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_no""".stripMargin,

    "text_length_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       round(quantile_cont(n_chars, 0.5e0), 6) AS p50_chars,
        |       round(quantile_cont(n_chars, 0.9e0), 6) AS p90_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "text_repetition" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |base AS (SELECT doc_id, len(w) AS n_tokens, len(list_distinct(w)) AS n_distinct FROM toks),
        |tok AS (SELECT doc_id, unnest(w) AS g FROM toks),
        |tc AS (SELECT doc_id, g, count(*) AS c FROM tok GROUP BY doc_id, g),
        |tt AS (SELECT doc_id, g, c FROM
        |       (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rn FROM tc)
        |       WHERE rn = 1),
        |bi AS (SELECT doc_id, unnest(list_transform(range(1, len(w)),
        |         i -> w[i] || ' ' || w[i + 1])) AS g FROM toks),
        |bc AS (SELECT doc_id, g, count(*) AS c FROM bi GROUP BY doc_id, g),
        |bt AS (SELECT doc_id, g, c FROM
        |       (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rn FROM bc)
        |       WHERE rn = 1)
        |SELECT base.doc_id AS doc_id, CAST(base.n_tokens AS INT) AS n_tokens,
        |  round(1e0 - n_distinct / n_tokens, 6) AS dup_token_ratio,
        |  tt.g AS top_token, tt.c AS top_token_count,
        |  round(tt.c / base.n_tokens, 6) AS top_token_ratio,
        |  bt.g AS top_bigram, bt.c AS top_bigram_count,
        |  round(bt.c / (base.n_tokens - 1), 6) AS top_bigram_ratio
        |FROM base JOIN tt ON base.doc_id = tt.doc_id JOIN bt ON base.doc_id = bt.doc_id
        |ORDER BY doc_id""".stripMargin,

    // integer tf×rarity retrieval: rarity = 1e6 // df (exact int), score a
    // BIGINT sum — the window order is total via the doc_id tiebreak
    "text_search" ->
      """WITH tf AS (
        |  SELECT doc_id, term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |  WHERE term IN ('spark', 'join', 'hash')
        |  GROUP BY doc_id, term),
        |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |scored AS (SELECT tf.doc_id, CAST(sum(tf.tf * (1000000 // dft.df)) AS BIGINT) AS score,
        |                  count(*) AS n_terms_hit
        |           FROM tf JOIN dft ON tf.term = dft.term GROUP BY tf.doc_id),
        |ranked AS (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
        |           FROM scored)
        |SELECT CAST(rank AS INT) AS rank, doc_id, score, n_terms_hit
        |FROM ranked WHERE rank <= 10 ORDER BY rank""".stripMargin,

    // full BM25: identical literal IEEE shape (ln idf, k1=1.2 b=0.75,
    // exact len·N/Σlen norm), terms rounded to 9 dp then summed as
    // DECIMAL(38,12) so summation order can't flip a bit
    "text_bm25" ->
      """WITH base AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS len,
        |                     string_split(text, ' ') AS toks FROM documents),
        |totals AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |                  CAST(sum(len) AS BIGINT) AS sum_len FROM base),
        |tf AS (SELECT doc_id, len, term, count(*) AS tf
        |       FROM (SELECT doc_id, len, unnest(toks) AS term FROM base)
        |       WHERE term IN ('spark', 'window', 'join') GROUP BY 1, 2, 3),
        |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT tf.doc_id,
        |         round(CAST(sum(CAST(
        |           round(ln((n_docs - df + 0.5) / (df + 0.5) + 1) * (tf * 2.2)
        |             / (tf + 1.2 * (0.25 + 0.75 * (CAST(len * n_docs AS DOUBLE) / sum_len))), 9)
        |         AS DECIMAL(38, 12))) AS DOUBLE), 6) AS score,
        |         count(*) AS n_terms_hit
        |  FROM tf JOIN dft USING (term), totals
        |  GROUP BY tf.doc_id),
        |topk AS (SELECT * FROM scored ORDER BY score DESC, doc_id ASC LIMIT 20)
        |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank,
        |       doc_id, score, n_terms_hit
        |FROM topk ORDER BY rank""".stripMargin,

    // the stored-index twin: historical (doc_id % 7 != 0) distinct chunk
    // hashes (15-hex md5 fold), incoming kept iff absent, same reassembly
    "dedup_paragraphs_stored" ->
      """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |idx AS (SELECT doc_id, w, unnest(range((len(w) + 14) // 15)) AS i FROM words),
        |chunks AS (SELECT doc_id, i AS chunk_idx,
        |                  array_to_string(w[(i*15+1):(i*15+15)], ' ') AS chunk FROM idx),
        |ch AS (SELECT doc_id, chunk_idx, chunk,
        |         CAST(list_sum(list_transform(range(0, 15), k ->
        |           CAST(strpos('0123456789abcdef', substr(md5(chunk), CAST(k AS INT) + 1, 1)) - 1 AS BIGINT)
        |             << CAST(4 * (14 - k) AS INT))) AS BIGINT) AS h
        |       FROM chunks),
        |stored AS (SELECT DISTINCT h FROM ch WHERE doc_id % 7 != 0),
        |fl AS (SELECT inc.doc_id, inc.chunk_idx, inc.chunk,
        |         CASE WHEN stored.h IS NOT NULL THEN 1 END AS hit
        |       FROM (SELECT * FROM ch WHERE doc_id % 7 = 0) inc
        |       LEFT JOIN stored ON inc.h = stored.h)
        |SELECT doc_id, count(*) AS n_chunks,
        |       count(*) FILTER (WHERE hit IS NULL) AS n_kept,
        |       count(*) FILTER (WHERE hit IS NOT NULL) AS n_dropped,
        |       coalesce(string_agg(chunk, ' ' ORDER BY chunk_idx) FILTER (WHERE hit IS NULL), '') AS clean_text
        |FROM fl GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // identical chunking (15-word position windows), keeper window on
    // md5(chunk), ordered string_agg reassembly
    "dedup_paragraphs" ->
      """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |idx AS (SELECT doc_id, w, unnest(range((len(w) + 14) // 15)) AS i FROM words),
        |chunks AS (SELECT doc_id, i AS chunk_idx,
        |                  array_to_string(w[(i*15+1):(i*15+15)], ' ') AS chunk FROM idx),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY md5(chunk)
        |                                    ORDER BY doc_id, chunk_idx) AS rn FROM chunks)
        |SELECT doc_id, count(*) AS n_chunks,
        |       count(*) FILTER (WHERE rn = 1) AS n_kept,
        |       count(*) FILTER (WHERE rn > 1) AS n_dropped,
        |       coalesce(string_agg(chunk, ' ' ORDER BY chunk_idx) FILTER (WHERE rn = 1), '') AS clean_text
        |FROM rk GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_winnow" ->
      s"""WITH $winnowCtes
         |SELECT doc_id, CAST(len(prints) AS INT) AS n_prints,
         |       md5(array_to_string(prints, ',')) AS prints_md5
         |FROM pr ORDER BY doc_id""".stripMargin,

    // exact cross-multiplied L1: |c_st*T - c_t*T_s| over present tokens +
    // the closed-form absent-token term (T - sum(present c_t)) * T_s
    "text_source_drift" ->
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
        |src AS (SELECT source, token, count(*) AS c_st FROM tok GROUP BY 1, 2),
        |st AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_tokens,
        |              count(*) AS n_distinct FROM src GROUP BY source),
        |gl AS (SELECT token, CAST(sum(c_st) AS BIGINT) AS c_t FROM src GROUP BY token),
        |tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS t_all FROM gl),
        |pres AS (SELECT src.source,
        |           CAST(sum(abs(src.c_st * t_all - gl.c_t * st.n_tokens)) AS BIGINT) AS num_present,
        |           CAST(sum(gl.c_t) AS BIGINT) AS c_glob_present
        |         FROM src JOIN gl USING (token) JOIN st USING (source) CROSS JOIN tot
        |         GROUP BY src.source)
        |SELECT st.source AS source, st.n_tokens, st.n_distinct,
        |       round((num_present + (t_all - c_glob_present) * st.n_tokens)
        |             / (CAST(st.n_tokens AS DOUBLE) * CAST(t_all AS DOUBLE)), 6) AS l1_drift
        |FROM pres JOIN st USING (source) CROSS JOIN tot
        |ORDER BY source""".stripMargin,

    "text_winnow_pairs" ->
      s"""WITH $winnowCtes,
         |idx AS (SELECT doc_id, unnest(prints) AS print FROM pr),
         |dfc AS (SELECT print, count(*) AS dfreq FROM idx GROUP BY print),
         |fidx AS (SELECT idx.doc_id, idx.print FROM idx JOIN dfc USING (print)
         |         WHERE dfreq <= 50)
         |SELECT i1.doc_id AS a, i2.doc_id AS b, count(*) AS n_shared
         |FROM fidx i1 JOIN fidx i2 ON i1.print = i2.print AND i1.doc_id < i2.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 8 ORDER BY a, b""".stripMargin,

    // cross-slice winnow pairs: historical-only df cap (the
    // boilerplate-against-store convention), multiplicity-counting join —
    // ONE oracle for the in-line incremental and the stored-probe twin
    // (the store is the exploded print relation itself, build+append over
    // complementary halves = exactly the %7<>0 slice)
    "text_winnow_incremental" -> winnowIncrementalOracleSql,
    "text_winnow_stored" -> winnowIncrementalOracleSql,

    // replays shingle_hash60 (first 15 md5 hex digits as a 60-bit int) over
    // 5-gram shingles; train×eval overlap with the same mod-11 eval slice
    "pipeline_decontaminate" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |         unnest(list_transform(range(1, len(w) - 3),
        |                i -> array_to_string(w[i:i+4], ' '))) AS shingle
        |       FROM toks WHERE len(w) >= 5),
        |h AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 15), k ->
        |        CAST(strpos('0123456789abcdef', substr(md5(shingle), CAST(k AS INT) + 1, 1)) - 1 AS BIGINT)
        |          << CAST(4 * (14 - k) AS INT))) AS BIGINT) AS shingle
        |      FROM sh),
        |sz AS (SELECT doc_id, CAST(count(*) AS INT) AS n_shingles FROM h GROUP BY doc_id),
        |hits AS (SELECT t.doc_id,
        |           count(DISTINCT t.shingle) AS n_shared,
        |           count(DISTINCT e.doc_id) AS n_eval_docs
        |         FROM h t JOIN h e ON t.shingle = e.shingle
        |         WHERE t.doc_id % 11 != 0 AND e.doc_id % 11 = 0
        |         GROUP BY t.doc_id)
        |SELECT hits.doc_id AS doc_id, sz.n_shingles, hits.n_shared, hits.n_eval_docs,
        |       round(hits.n_shared / sz.n_shingles, 6) AS contaminated_frac
        |FROM hits JOIN sz ON hits.doc_id = sz.doc_id
        |ORDER BY doc_id""".stripMargin,

    "pipeline_quality_prune" ->
      """WITH q AS (
        |  SELECT doc_id, lang,
        |    round(100e0 * len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' '))
        |      * least(1e0, len(string_split(text, ' ')) / 30e0), 6) AS quality_score
        |  FROM documents),
        |r AS (SELECT *, percent_rank() OVER (PARTITION BY lang ORDER BY quality_score) AS quality_pct
        |      FROM q)
        |SELECT doc_id, lang, quality_score, round(quality_pct, 6) AS quality_pct
        |FROM r WHERE quality_pct >= 0.1 ORDER BY doc_id""".stripMargin,

    "pipeline_corpus_stats" ->
      """WITH g AS (SELECT count(*) AS n_docs,
        |             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |             count(DISTINCT lang) AS n_langs,
        |             count(DISTINCT source) AS n_sources,
        |             CAST(sum(n_chars) AS BIGINT) AS n_chars
        |           FROM documents),
        |d AS (SELECT CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
        |             CAST(sum(cnt - 1) AS BIGINT) AS n_dup_docs
        |      FROM (SELECT md5(substr(text, 1, 80)) AS k, count(*) AS cnt
        |            FROM documents GROUP BY 1))
        |SELECT g.*, d.*, round(n_tokens / n_docs, 6) AS mean_tokens
        |FROM g CROSS JOIN d""".stripMargin,

    // full corpus build: quality-prune ∧ keepers ∧ decontaminate → pack,
    // each CTE the proven oracle fragment of its standalone query
    "pipeline_corpus_build" ->
      """WITH q AS (
        |  SELECT doc_id, lang,
        |    round(100e0 * len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' '))
        |      * least(1e0, len(string_split(text, ' ')) / 30e0), 6) AS quality_score
        |  FROM documents),
        |kept AS (SELECT doc_id FROM
        |         (SELECT *, percent_rank() OVER (PARTITION BY lang ORDER BY quality_score) AS p FROM q)
        |         WHERE p >= 0.1),
        |keepers AS (SELECT doc_id FROM (
        |  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(substr(text, 1, 80))) AS keeper
        |  FROM documents) WHERE doc_id = keeper),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh5 AS (SELECT DISTINCT doc_id,
        |          unnest(list_transform(range(1, len(w) - 3),
        |                 i -> array_to_string(w[i:i+4], ' '))) AS shingle
        |        FROM toks WHERE len(w) >= 5),
        |hits AS (SELECT DISTINCT t.doc_id
        |         FROM sh5 t JOIN sh5 e ON t.shingle = e.shingle
        |         WHERE t.doc_id % 11 != 0 AND e.doc_id % 11 = 0),
        |final AS (SELECT d.source, d.doc_id,
        |            CAST(len(string_split(d.text, ' ')) AS INT) AS n_tokens
        |          FROM documents d
        |          JOIN kept ON d.doc_id = kept.doc_id
        |          JOIN keepers ON d.doc_id = keepers.doc_id
        |          WHERE d.doc_id % 11 != 0
        |            AND d.doc_id NOT IN (SELECT doc_id FROM hits)),
        |c AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM final)
        |SELECT source, doc_id, n_tokens,
        |  (cum - n_tokens) // 256 AS first_seq,
        |  (cum - 1) // 256 AS last_seq,
        |  (cum - 1) // 256 - (cum - n_tokens) // 256 + 1 AS n_seqs
        |FROM c ORDER BY source, doc_id""".stripMargin,

    "pipeline_pack" ->
      """WITH t AS (SELECT source, doc_id,
        |             CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
        |           FROM documents),
        |c AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM t)
        |SELECT source, doc_id, n_tokens,
        |  (cum - n_tokens) // 256 AS first_seq,
        |  (cum - 1) // 256 AS last_seq,
        |  (cum - 1) // 256 - (cum - n_tokens) // 256 + 1 AS n_seqs
        |FROM c ORDER BY source, doc_id""".stripMargin,

    "pipeline_pack_sharded" ->
      """WITH t AS (SELECT source, doc_id, doc_id // 100 AS shard,
        |             CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
        |           FROM documents),
        |c AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY source, shard ORDER BY doc_id
        |                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM t)
        |SELECT source, shard, doc_id, n_tokens,
        |  (cum - n_tokens) // 256 AS first_seq,
        |  (cum - 1) // 256 AS last_seq,
        |  (cum - 1) // 256 - (cum - n_tokens) // 256 + 1 AS n_seqs
        |FROM c ORDER BY source, doc_id""".stripMargin,

    // largest-remainder apportionment replayed: BIGINT products, div/mod,
    // remainder rank (ties -> source asc); quotas sum to the budget exactly
    "pipeline_mixture" ->
      """WITH per AS (SELECT source, count(*) AS n_docs,
        |              CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |            FROM documents GROUP BY source),
        |t AS (SELECT *, CAST(sum(n_tokens) OVER () AS BIGINT) AS total FROM per),
        |q AS (SELECT *, round(n_tokens / total, 6) AS share,
        |        (1000000 * n_tokens) // total AS base_quota,
        |        (1000000 * n_tokens) % total AS rem FROM t),
        |l AS (SELECT *, 1000000 - CAST(sum(base_quota) OVER () AS BIGINT) AS leftover,
        |        row_number() OVER (ORDER BY rem DESC, source ASC) AS rk FROM q)
        |SELECT source, n_docs, n_tokens, share, base_quota,
        |       CAST(CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS extra,
        |       base_quota + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS quota_tokens
        |FROM l ORDER BY source""".stripMargin,

    // packing stats: the pack CTE rolled up per source; two IEEE divisions
    "pipeline_pack_stats" ->
      """WITH t AS (SELECT source, doc_id,
        |             CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
        |           FROM documents),
        |c AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM t),
        |p AS (SELECT source, n_tokens, (cum - 1) // 256 AS last_seq,
        |        (cum - 1) // 256 - (cum - n_tokens) // 256 + 1 AS doc_seqs FROM c)
        |SELECT source, count(*) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |       CAST(max(last_seq) + 1 AS BIGINT) AS n_seqs,
        |       CAST(sum(CASE WHEN doc_seqs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs,
        |       round(CAST(sum(CASE WHEN doc_seqs > 1 THEN 1 ELSE 0 END) AS BIGINT) / count(*), 6) AS split_frac,
        |       CAST((max(last_seq) + 1) * 256 - sum(n_tokens) AS BIGINT) AS tail_waste,
        |       round(CAST(sum(n_tokens) AS BIGINT) / ((max(last_seq) + 1) * 256), 6) AS fill_rate
        |FROM p GROUP BY source ORDER BY source""".stripMargin,

    // alpha-temperature weights: p and the final normalizations are IEEE
    // with the same literal shape as the engine; the one order-sensitive
    // double sum (sum of p^alpha) goes through DECIMAL(38,18) on both sides
    "pipeline_source_temperature" ->
      """WITH per AS (SELECT source, count(*) AS n_docs,
        |              CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |            FROM documents GROUP BY source),
        |t AS (SELECT *, CAST(sum(n_tokens) OVER () AS BIGINT) AS total FROM per),
        |w AS (SELECT *, n_tokens / total AS p,
        |        power(n_tokens / total, 0.3e0) AS wr FROM t),
        |s AS (SELECT *, CAST(sum(CAST(wr AS DECIMAL(38,18))) OVER () AS DOUBLE) AS wsum FROM w)
        |SELECT source, n_docs, n_tokens,
        |       round(p, 6) AS share,
        |       round(wr / wsum, 6) AS weight,
        |       round((wr / wsum) / p, 6) AS boost,
        |       round(wr / wsum * total, 2) AS expected_tokens
        |FROM s ORDER BY source NULLS LAST""".stripMargin,

    // Zipf fit: exact ranks, DECIMAL-routed regression sums, IEEE
    // slope/intercept/R^2 with identical literal shape
    "text_zipf" ->
      """WITH counts AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
        |                FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |                GROUP BY tok),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS vocab_size FROM counts),
        |top AS (SELECT cnt, tok FROM counts ORDER BY cnt DESC, tok ASC LIMIT 1000),
        |ranked AS (SELECT ln(rank) AS x, ln(cnt) AS y, cnt FROM (
        |             SELECT cnt, tok,
        |                    row_number() OVER (ORDER BY cnt DESC, tok ASC) AS rank
        |             FROM top)),
        |agg AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |               CAST(sum(CAST(x AS DECIMAL(38,18))) AS DOUBLE) AS sx,
        |               CAST(sum(CAST(y AS DECIMAL(38,18))) AS DOUBLE) AS sy,
        |               CAST(sum(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS sxx,
        |               CAST(sum(CAST(x * y AS DECIMAL(38,18))) AS DOUBLE) AS sxy,
        |               CAST(sum(CAST(y * y AS DECIMAL(38,18))) AS DOUBLE) AS syy,
        |               CAST(sum(cnt) AS BIGINT) AS ranked_tokens
        |        FROM ranked),
        |sl AS (SELECT * FROM agg CROSS JOIN tot),
        |sl2 AS (SELECT *, (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope_raw FROM sl)
        |SELECT vocab_size, CAST(n AS BIGINT) AS n_points, ranked_tokens,
        |       round(slope_raw, 6) AS slope,
        |       round((sy - slope_raw * sx) / n, 6) AS intercept,
        |       round((n * sxy - sx * sy) * (n * sxy - sx * sy)
        |         / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
        |FROM sl2""".stripMargin,

    // DSIR replay: the same md5 hex[1..4] bucket (exact bigint shifts),
    // add-1-smoothed per-side bucket distributions from exact counts,
    // log-ratio in the identical division shape, per-doc count·ln sum
    // (the unigramCE ln-sum precedent, round-6)
    "pipeline_dsir_weights" -> dsirOracleSql,
    // the store materializes the fitted log-ratio table (refit = atomic
    // rebuild; serving is one broadcast join), so the in-line oracle
    // proves fit, publish, and serve in one hash
    "pipeline_dsir_weights_stored" -> dsirOracleSql,
    "pipeline_dsir_sample" -> dsirSampleOracleSql,

    // CCNet LM filter replay: exact-BIGINT unigram/bigram counts from the
    // %3 reference slice, the one interpolated-probability shape (λ = 0.75
    // dyadic, add-1 unigram arm over V+1 classes), per-doc ln-sum
    // (round-6, the bigramCE precedent), tertile cutoffs quantile_cont ≡
    // percentile over the ROUNDED scores, bucket = two comparisons
    "pipeline_perplexity_filter" -> lmFilterOracleSql,
    // the store materializes the same model + its cutoffs (refit = atomic
    // rebuild), so the in-line oracle proves fit, publish, and serve
    "pipeline_perplexity_stored" -> lmFilterOracleSql,
    // the named-shard serve: the model trains on the WHOLE corpus and the
    // joins are same-lang, so the shard relation IS the whole-corpus
    // relation restricted to the shard's language — one oracle body, one
    // restriction (string-derived so the two can never drift)
    "pipeline_perplexity_shard" ->
      lmFilterOracleSql.replace("FROM b ORDER BY doc_id",
        "FROM b WHERE lang = 'de' ORDER BY doc_id"),

    "sample_stratified" ->
      """WITH r AS (SELECT doc_id, lang,
        |  row_number() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rank
        |FROM documents)
        |SELECT lang, CAST(rank AS INT) AS rank, doc_id
        |FROM r WHERE rank <= 50 ORDER BY lang, rank""".stripMargin,

    // seeded-md5 epoch permutation; shard = first two hex digits % 8
    // (exact integer nibble arithmetic both engines); pos ranks by the
    // full md5 key (total order, doc_id tiebreak vs collisions)
    "pipeline_epoch_shuffle" ->
      """WITH k AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  md5('s42:' || CAST(doc_id AS VARCHAR)) AS k FROM documents),
        |s AS (SELECT doc_id, n_tokens, k,
        |  CAST(((strpos('0123456789abcdef', substr(k, 1, 1)) - 1) * 16
        |       + strpos('0123456789abcdef', substr(k, 2, 1)) - 1) % 8 AS INT) AS shard_id
        |  FROM k)
        |SELECT doc_id, shard_id,
        |       CAST(row_number() OVER (PARTITION BY shard_id ORDER BY k, doc_id) AS BIGINT) AS pos,
        |       n_tokens
        |FROM s ORDER BY shard_id, pos""".stripMargin,

    // stride schedule: same per-source md5 rank/count windows, ordered by
    // the EXACT vt double (identical IEEE division both engines), rounded
    // only in the emitted column
    "pipeline_interleave" ->
      """WITH r AS (SELECT doc_id, source,
        |  CAST(row_number() OVER (PARTITION BY source
        |         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS src_rank,
        |  CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_src
        |  FROM documents)
        |SELECT doc_id, source, src_rank, n_src,
        |       round(CAST(src_rank AS DOUBLE) / n_src, 6) AS vt
        |FROM r ORDER BY CAST(src_rank AS DOUBLE) / n_src, source, doc_id""".stripMargin,

    // global-budget quality selection: the oracle states the NAIVE global
    // window form; the Spark plan reassembles it from score-group offsets
    // (the scalable two-phase shape) — same rows bit-for-bit
    "pipeline_quality_budget" ->
      """WITH t AS (SELECT doc_id, source,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |             (100000000 * len(list_distinct(string_split(text, ' ')))
        |                * least(len(string_split(text, ' ')), 30))
        |              // (len(string_split(text, ' ')) * 30) AS q_scaled
        |           FROM documents),
        |o AS (SELECT *,
        |        CAST(sum(n_tokens) OVER (ORDER BY q_scaled DESC, doc_id ASC
        |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
        |        CAST(row_number() OVER (ORDER BY q_scaled DESC, doc_id ASC) AS BIGINT) AS pick_rank
        |      FROM t)
        |SELECT pick_rank, doc_id, source, CAST(q_scaled AS BIGINT) AS q_scaled,
        |       n_tokens, cum_tokens
        |FROM o WHERE cum_tokens - n_tokens < 20000
        |ORDER BY pick_rank""".stripMargin,

    // mixture plan replay (largest remainder) feeding the per-source
    // md5-ordered greedy selection: doc kept iff tokens BEFORE it < quota
    "pipeline_mixture_sampled" ->
      """WITH t AS (SELECT source, doc_id,
        |             CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
        |           FROM documents),
        |per AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS n_tokens FROM t GROUP BY source),
        |tt AS (SELECT *, CAST(sum(n_tokens) OVER () AS BIGINT) AS total FROM per),
        |qq AS (SELECT *, (100000 * n_tokens) // total AS base_quota,
        |               (100000 * n_tokens) % total AS rem FROM tt),
        |l AS (SELECT *, 100000 - CAST(sum(base_quota) OVER () AS BIGINT) AS leftover,
        |        row_number() OVER (ORDER BY rem DESC, source ASC) AS rk FROM qq),
        |quota AS (SELECT source,
        |            base_quota + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS quota_tokens
        |          FROM l),
        |r AS (SELECT t.*,
        |        row_number() OVER (PARTITION BY source
        |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS pick_rank,
        |        CAST(sum(n_tokens) OVER (PARTITION BY source
        |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |      FROM t)
        |SELECT r.source, CAST(pick_rank AS INT) AS pick_rank, doc_id, n_tokens,
        |       cum_tokens, quota_tokens
        |FROM r JOIN quota USING (source)
        |WHERE cum_tokens - n_tokens < quota_tokens
        |ORDER BY source, pick_rank""".stripMargin,

    "text_normalize" ->
      """WITH n AS (SELECT doc_id, text,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |       ' +', ' ', 'g')) AS norm
        |FROM documents)
        |SELECT doc_id, CAST(length(text) AS INT) AS n_chars,
        |  CAST(length(norm) AS INT) AS n_chars_norm,
        |  md5(norm) AS norm_md5,
        |  CAST(text != norm AS INT) AS changed
        |FROM n ORDER BY doc_id""".stripMargin,

    "text_novelty" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bg AS (SELECT DISTINCT doc_id,
        |         unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])) AS bigram
        |       FROM t WHERE len(w) >= 2),
        |dfc AS (SELECT bigram, count(*) AS dfreq FROM bg GROUP BY bigram)
        |SELECT bg.doc_id AS doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |       CAST(sum(CASE WHEN dfreq = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
        |       round(sum(CASE WHEN dfreq = 1 THEN 1 ELSE 0 END) / count(*), 6) AS novelty_ratio
        |FROM bg JOIN dfc USING (bigram)
        |GROUP BY bg.doc_id ORDER BY doc_id""".stripMargin,

    // adjacent pairs assembled list-side (mirrors the engine's array
    // transform); pair split back via split_part (tokens are space-free)
    "text_bpe_merges" ->
      """WITH bg AS (
        |  SELECT unnest(list_transform(range(1, len(string_split(text, ' '))),
        |         i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1])) AS bigram
        |  FROM documents),
        |pf AS (SELECT split_part(bigram, ' ', 1) AS lhs, split_part(bigram, ' ', 2) AS rhs,
        |              CAST(count(*) AS BIGINT) AS n FROM bg GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM pf),
        |r AS (SELECT lhs, rhs, n,
        |        row_number() OVER (ORDER BY n DESC, lhs ASC, rhs ASC) AS rank FROM pf)
        |SELECT CAST(rank AS INT) AS rank, lhs, rhs, n, round(n / total, 6) AS share
        |FROM r CROSS JOIN tot WHERE rank <= 50 ORDER BY rank""".stripMargin,

    // the bpe_merges rule CTEs + a recursive encode over rule ranks: each
    // round's list_reduce replays the same leftmost-greedy accumulator
    // fold (merge the pair when the running last symbol is lhs and the
    // next is rhs); the md5 of the final sequence checks every merge
    // decision on every doc. Terminates at max(rank) so a pair vocab
    // smaller than topK still verifies. Fused symbols join with chr(31)
    // (the engine's FuseSep), so the symbol-LIST encoding inside the
    // recursion uses chr(30) — it must never collide with a byte that
    // can appear inside a symbol.
    "text_bpe_encode" ->
      """WITH RECURSIVE bg AS (
        |  SELECT unnest(list_transform(range(1, len(string_split(text, ' '))),
        |         i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1])) AS bigram
        |  FROM documents),
        |pf AS (SELECT split_part(bigram, ' ', 1) AS lhs, split_part(bigram, ' ', 2) AS rhs,
        |              CAST(count(*) AS BIGINT) AS n FROM bg GROUP BY 1, 2),
        |rk AS (SELECT lhs, rhs, row_number() OVER (ORDER BY n DESC, lhs ASC, rhs ASC) AS rank FROM pf),
        |rules AS (SELECT CAST(rank AS INT) AS rank, lhs, rhs FROM rk WHERE rank <= 50),
        |enc(doc_id, n_words, rr, s) AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT), 0,
        |         array_to_string(string_split(text, ' '), chr(30)) FROM documents
        |  UNION ALL
        |  SELECT e.doc_id, e.n_words, e.rr + 1,
        |    list_reduce(string_split(e.s, chr(30)), (acc, x) ->
        |      CASE WHEN x = ru.rhs AND (acc = ru.lhs OR ends_with(acc, chr(30) || ru.lhs))
        |        THEN CASE WHEN acc = ru.lhs THEN ru.lhs || chr(31) || ru.rhs
        |             ELSE left(acc, len(acc) - len(ru.lhs)) || ru.lhs || chr(31) || ru.rhs END
        |      ELSE acc || chr(30) || x END)
        |  FROM enc e JOIN rules ru ON ru.rank = e.rr + 1)
        |SELECT doc_id, n_words,
        |       CAST(len(string_split(s, chr(30))) AS BIGINT) AS n_symbols,
        |       CAST(n_words - len(string_split(s, chr(30))) AS BIGINT) AS n_merges,
        |       md5(replace(s, chr(30), ' ')) AS encoded_md5
        |FROM enc WHERE rr = coalesce((SELECT max(rank) FROM rules), 0)
        |ORDER BY doc_id""".stripMargin,

    // top-k coverage: full-vocab rank in the oracle (bounded there), the
    // engine heap-cuts to max(k) first; per-k conditional sums + totals
    "text_vocab_coverage" ->
      """WITH c AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
        |           FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |           GROUP BY tok),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_tokens,
        |             CAST(count(*) AS BIGINT) AS vocab_size FROM c),
        |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok ASC) AS rank FROM c),
        |ks(k) AS (VALUES (10), (100), (1000))
        |SELECT CAST(ks.k AS INT) AS k,
        |       CAST(coalesce(sum(cnt) FILTER (WHERE rank <= ks.k), 0) AS BIGINT) AS covered_tokens,
        |       t.total_tokens, t.vocab_size,
        |       round(coalesce(sum(cnt) FILTER (WHERE rank <= ks.k), 0) / t.total_tokens, 6) AS coverage
        |FROM ks, r, t GROUP BY ks.k, t.total_tokens, t.vocab_size ORDER BY k""".stripMargin,

    "text_vocab" ->
      """WITH tf AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (SELECT token, CAST(count(*) AS BIGINT) AS freq FROM tf GROUP BY token),
        |tot AS (SELECT CAST(sum(freq) AS BIGINT) AS total FROM c),
        |r AS (SELECT token, freq,
        |        row_number() OVER (ORDER BY freq DESC, token ASC) AS rank FROM c)
        |SELECT CAST(rank AS INT) AS rank, token, freq, round(freq / total, 6) AS share
        |FROM r CROSS JOIN tot WHERE rank <= 200 ORDER BY rank""".stripMargin,

    // the embedding-side keeper decision: recursive closure over the exact
    // >=0.4-cosine pair relation (quantized-integer scoring core; same bar
    // as dedup_embedding_cosine, whose pair set this collapses)
    "dedup_embedding_keepers" -> embKeepersOracleSql,
    "pipeline_semdedup" -> semDedupOracleSql(),
    "pipeline_semdedup_capped" -> semDedupOracleSql(Some(30)),
    "pipeline_semdedup_trained" -> semDedupTrainedOracleSql(3),

    // replays the engine's MinHash union sketch exactly: 60-bit md5-prefix
    // shingle hashes (integer shifts — a double would round past 53 bits),
    // the same LCG permutation family, per-source elementwise min (= sketch
    // of the source's shingle-set union), matching-component fraction.
    "dedup_source_overlap" ->
      """WITH toks AS (SELECT source, string_split(text, ' ') AS w FROM documents),
        |hx AS (SELECT DISTINCT source,
        |         unnest(list_transform(range(1, len(w) - 1),
        |                i -> array_to_string(w[i:i+2], ' '))) AS shingle
        |       FROM toks WHERE len(w) >= 3),
        |h60 AS (SELECT source, CAST(list_sum(list_transform(range(0, 15), k ->
        |          CAST(strpos('0123456789abcdef', substr(md5(shingle), CAST(k AS INT) + 1, 1)) - 1 AS BIGINT)
        |            << CAST(4 * (14 - k) AS INT))) AS BIGINT) AS x
        |        FROM hx),
        |perms AS (SELECT i, (1103515245 * i + 12345) % 1000000007 + 1 AS a,
        |                 (69069 * i + 362437) % 1000000007 AS b
        |          FROM range(128) t(i)),
        |sig AS (SELECT source, i, min((a * (x % 1000000007) + b) % 1000000007) AS v
        |        FROM h60 CROSS JOIN perms GROUP BY source, i)
        |SELECT sa.source AS source_a, sb.source AS source_b,
        |       round(sum(CASE WHEN sa.v = sb.v THEN 1 ELSE 0 END) / 128, 6) AS jaccard_est
        |FROM sig sa JOIN sig sb ON sa.i = sb.i AND sa.source < sb.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "dedup_simhash" ->
      """SELECT doc_id,
        |  CAST(list_sum(list_transform(range(0, 63), j ->
        |    CASE WHEN list_sum(list_transform(
        |           list_transform(list_distinct(string_split(text, ' ')), t -> md5(t)),
        |           h -> 2 * (((strpos('0123456789abcdef', substr(h, CAST(j // 4 AS INT) + 1, 1)) - 1)
        |                      // (CASE j % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END)) % 2) - 1))
        |         > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE CAST(0 AS BIGINT) END))
        |    AS BIGINT) AS simhash
        |FROM documents ORDER BY doc_id""".stripMargin,

    // banded index has guaranteed recall at hd<=3 (pigeonhole over 4 bands),
    // so the oracle is the exact all-pairs Hamming join
    "dedup_simhash_pairs" ->
      s"""WITH $simhashShCte
         |SELECT s1.doc_id AS a, s2.doc_id AS b,
         |       CAST(bit_count(xor(CAST(s1.simhash AS BIT), CAST(s2.simhash AS BIT))) AS INT) AS hamming
         |FROM sh s1 JOIN sh s2 ON s1.doc_id < s2.doc_id
         |WHERE bit_count(xor(CAST(s1.simhash AS BIT), CAST(s2.simhash AS BIT))) <= 3
         |ORDER BY a, b""".stripMargin,

    // simhash P/R per Hamming bar vs exact >=0.8-Jaccard truth: jaccardCtes
    // supplies tr; the simhash chain is simhashShCte renamed smh (both
    // define `sh`); bars LEFT JOIN the per-bar aggregate so empty bars
    // report (0,0) exactly like the engine's bar-table left join
    "dedup_simhash_eval" ->
      s"""WITH ${jaccardCtes(None)},
         |tr AS (SELECT a, b
         |       FROM inter JOIN sz sa ON inter.a = sa.doc_id JOIN sz sb ON inter.b = sb.doc_id
         |       WHERE c / (sa.n_sh + sb.n_sh - c) >= 0.8),
         |smh AS (
         |  SELECT doc_id,
         |    CAST(list_sum(list_transform(range(0, 63), j ->
         |      CASE WHEN list_sum(list_transform(
         |             list_transform(list_distinct(string_split(text, ' ')), t -> md5(t)),
         |             h -> 2 * (((strpos('0123456789abcdef', substr(h, CAST(j // 4 AS INT) + 1, 1)) - 1)
         |                        // (CASE j % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END)) % 2) - 1))
         |           > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE CAST(0 AS BIGINT) END))
         |      AS BIGINT) AS simhash
         |  FROM documents),
         |sp AS (SELECT s1.doc_id AS a, s2.doc_id AS b,
         |              CAST(bit_count(xor(CAST(s1.simhash AS BIT), CAST(s2.simhash AS BIT))) AS INT) AS hamming
         |       FROM smh s1 JOIN smh s2 ON s1.doc_id < s2.doc_id
         |       WHERE bit_count(xor(CAST(s1.simhash AS BIT), CAST(s2.simhash AS BIT))) <= 3),
         |jj AS (SELECT sp.a, sp.b, sp.hamming,
         |              CASE WHEN tr.a IS NOT NULL THEN 1 ELSE 0 END AS is_true
         |       FROM sp LEFT JOIN tr ON sp.a = tr.a AND sp.b = tr.b),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM tr),
         |agg AS (SELECT v.bar, CAST(coalesce(sum(jj.is_true), 0) AS BIGINT) AS tp,
         |               CAST(coalesce(sum(1 - jj.is_true), 0) AS BIGINT) AS fp
         |        FROM (VALUES (1), (2), (3)) v(bar) LEFT JOIN jj ON jj.hamming <= v.bar
         |        GROUP BY v.bar)
         |SELECT CAST(bar AS INT) AS bar, tp, fp, n_truth - tp AS fn,
         |       CASE WHEN tp + fp > 0 THEN round(tp / (tp + fp), 6) END AS prec,
         |       CASE WHEN n_truth > 0 THEN round(tp / n_truth, 6) END AS rec
         |FROM agg CROSS JOIN nt ORDER BY bar""".stripMargin,

    // the engine's degree-ordered orientation finds each triangle exactly
    // once; the oracle replays the same orientation with row-value
    // comparisons, so the two sides agree wedge for wedge
    "graph_triangles" ->
      s"""WITH $simhashShCte,
         |e AS (SELECT s1.doc_id AS a, s2.doc_id AS b
         |      FROM sh s1 JOIN sh s2 ON s1.doc_id < s2.doc_id
         |      WHERE bit_count(xor(CAST(s1.simhash AS BIT), CAST(s2.simhash AS BIT))) <= 3),
         |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS degree
         |        FROM (SELECT a AS id FROM e UNION ALL SELECT b AS id FROM e) GROUP BY id),
         |dir AS (SELECT CASE WHEN (da.degree, a) < (db.degree, b) THEN a ELSE b END AS src,
         |               CASE WHEN (da.degree, a) < (db.degree, b) THEN b ELSE a END AS dst,
         |               CASE WHEN (da.degree, a) < (db.degree, b) THEN db.degree ELSE da.degree END AS ddeg
         |        FROM e JOIN deg da ON da.id = e.a JOIN deg db ON db.id = e.b),
         |tri AS (SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
         |        FROM dir e1 JOIN dir e2 ON e1.src = e2.src
         |          AND (e1.ddeg, e1.dst) < (e2.ddeg, e2.dst)
         |        JOIN dir e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
         |tc AS (SELECT id, CAST(count(*) AS BIGINT) AS n_triangles
         |       FROM (SELECT u AS id FROM tri UNION ALL SELECT v AS id FROM tri
         |             UNION ALL SELECT w AS id FROM tri) GROUP BY id)
         |SELECT deg.id AS doc_id, deg.degree,
         |       CAST(coalesce(tc.n_triangles, 0) AS BIGINT) AS n_triangles,
         |       CASE WHEN deg.degree >= 2
         |            THEN round(2e0 * coalesce(tc.n_triangles, 0) / (deg.degree * (deg.degree - 1)), 6)
         |            ELSE 0e0 END AS clustering
         |FROM deg LEFT JOIN tc ON tc.id = deg.id
         |ORDER BY doc_id""".stripMargin,

    // the capped variant replays BOTH engine caps: the 64-doc band-bucket
    // density cap in the edge build, then the (ddeg, dst)-smallest-8
    // wedge budget via row_number (closure probe uncapped) — same
    // deterministic undercounts as the engine
    "graph_triangles_capped" ->
      s"""WITH $simhashShCte,
         |$cappedSimhashEdgeCte,
         |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS degree
         |        FROM (SELECT a AS id FROM e UNION ALL SELECT b AS id FROM e) GROUP BY id),
         |dir AS (SELECT CASE WHEN (da.degree, a) < (db.degree, b) THEN a ELSE b END AS src,
         |               CASE WHEN (da.degree, a) < (db.degree, b) THEN b ELSE a END AS dst,
         |               CASE WHEN (da.degree, a) < (db.degree, b) THEN db.degree ELSE da.degree END AS ddeg
         |        FROM e JOIN deg da ON da.id = e.a JOIN deg db ON db.id = e.b),
         |dirc AS (SELECT src, dst, ddeg FROM (
         |           SELECT dir.*, row_number() OVER (PARTITION BY src ORDER BY ddeg, dst) AS rn
         |           FROM dir) WHERE rn <= 8),
         |tri AS (SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
         |        FROM dirc e1 JOIN dirc e2 ON e1.src = e2.src
         |          AND (e1.ddeg, e1.dst) < (e2.ddeg, e2.dst)
         |        JOIN dir e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
         |tc AS (SELECT id, CAST(count(*) AS BIGINT) AS n_triangles
         |       FROM (SELECT u AS id FROM tri UNION ALL SELECT v AS id FROM tri
         |             UNION ALL SELECT w AS id FROM tri) GROUP BY id)
         |SELECT deg.id AS doc_id, deg.degree,
         |       CAST(coalesce(tc.n_triangles, 0) AS BIGINT) AS n_triangles,
         |       CASE WHEN deg.degree >= 2
         |            THEN round(2e0 * coalesce(tc.n_triangles, 0) / (deg.degree * (deg.degree - 1)), 6)
         |            ELSE 0e0 END AS clustering
         |FROM deg LEFT JOIN tc ON tc.id = deg.id
         |ORDER BY doc_id""".stripMargin,

    // same simhash edge + degree CTEs as graph_triangles, folded to the
    // histogram; share = one IEEE division of exact counts
    // floor-division PageRank: the same all-BIGINT recurrence unrolled as
    // CTEs (3 rounds); undirected edges -> every node gets inbound mass
    "graph_pagerank" ->
      s"""WITH $simhashShCte,
         |e AS (SELECT s1.doc_id AS a, s2.doc_id AS b
         |      FROM sh s1 JOIN sh s2 ON s1.doc_id < s2.doc_id
         |      WHERE bit_count(xor(CAST(s1.simhash AS BIT), CAST(s2.simhash AS BIT))) <= 3),
         |u AS (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b AS src, a AS dst FROM e),
         |deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS degree FROM u GROUP BY src),
         |p0 AS (SELECT id, degree, CAST(1000000 AS BIGINT) AS pr FROM deg),
         |p1 AS (SELECT d.id, d.degree, CAST(150000 + (85 * sum(p.pr // p.degree)) // 100 AS BIGINT) AS pr
         |       FROM u JOIN p0 p ON u.src = p.id JOIN deg d ON u.dst = d.id GROUP BY d.id, d.degree),
         |p2 AS (SELECT d.id, d.degree, CAST(150000 + (85 * sum(p.pr // p.degree)) // 100 AS BIGINT) AS pr
         |       FROM u JOIN p1 p ON u.src = p.id JOIN deg d ON u.dst = d.id GROUP BY d.id, d.degree),
         |p3 AS (SELECT d.id, d.degree, CAST(150000 + (85 * sum(p.pr // p.degree)) // 100 AS BIGINT) AS pr
         |       FROM u JOIN p2 p ON u.src = p.id JOIN deg d ON u.dst = d.id GROUP BY d.id, d.degree)
         |SELECT id AS doc_id, degree, pr AS pagerank FROM p3 ORDER BY doc_id""".stripMargin,

    "graph_degree_hist" ->
      s"""WITH $simhashShCte,
         |e AS (SELECT s1.doc_id AS a, s2.doc_id AS b
         |      FROM sh s1 JOIN sh s2 ON s1.doc_id < s2.doc_id
         |      WHERE bit_count(xor(CAST(s1.simhash AS BIT), CAST(s2.simhash AS BIT))) <= 3),
         |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS degree
         |        FROM (SELECT a AS id FROM e UNION ALL SELECT b AS id FROM e) GROUP BY id),
         |h AS (SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes FROM deg GROUP BY degree),
         |t AS (SELECT CAST(sum(n_nodes) AS BIGINT) AS total_nodes FROM h)
         |SELECT degree, n_nodes, total_nodes, round(n_nodes / total_nodes, 6) AS share
         |FROM h CROSS JOIN t ORDER BY degree""".stripMargin,

    // the band-capped twins: identical recurrence/histogram SQL, edge
    // CTE swapped for the 64-doc-bucket-capped replay
    "graph_pagerank_capped" ->
      s"""WITH $simhashShCte,
         |$cappedSimhashEdgeCte,
         |u AS (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b AS src, a AS dst FROM e),
         |deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS degree FROM u GROUP BY src),
         |p0 AS (SELECT id, degree, CAST(1000000 AS BIGINT) AS pr FROM deg),
         |p1 AS (SELECT d.id, d.degree, CAST(150000 + (85 * sum(p.pr // p.degree)) // 100 AS BIGINT) AS pr
         |       FROM u JOIN p0 p ON u.src = p.id JOIN deg d ON u.dst = d.id GROUP BY d.id, d.degree),
         |p2 AS (SELECT d.id, d.degree, CAST(150000 + (85 * sum(p.pr // p.degree)) // 100 AS BIGINT) AS pr
         |       FROM u JOIN p1 p ON u.src = p.id JOIN deg d ON u.dst = d.id GROUP BY d.id, d.degree),
         |p3 AS (SELECT d.id, d.degree, CAST(150000 + (85 * sum(p.pr // p.degree)) // 100 AS BIGINT) AS pr
         |       FROM u JOIN p2 p ON u.src = p.id JOIN deg d ON u.dst = d.id GROUP BY d.id, d.degree)
         |SELECT id AS doc_id, degree, pr AS pagerank FROM p3 ORDER BY doc_id""".stripMargin,

    "graph_degree_hist_capped" ->
      s"""WITH $simhashShCte,
         |$cappedSimhashEdgeCte,
         |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS degree
         |        FROM (SELECT a AS id FROM e UNION ALL SELECT b AS id FROM e) GROUP BY id),
         |h AS (SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes FROM deg GROUP BY degree),
         |t AS (SELECT CAST(sum(n_nodes) AS BIGINT) AS total_nodes FROM h)
         |SELECT degree, n_nodes, total_nodes, round(n_nodes / total_nodes, 6) AS share
         |FROM h CROSS JOIN t ORDER BY degree""".stripMargin,

    // component labels = the dedup_clusters recursive closure over the
    // capped edge relation; edges counted by their a-side label (every
    // edge is intra-component by closure)
    "graph_components" ->
      s"""WITH RECURSIVE $simhashShCte,
         |$cappedSimhashEdgeCte,
         |nodes AS (SELECT a AS id FROM e UNION SELECT b FROM e),
         |ed AS (SELECT a AS id, b AS nbr FROM e UNION ALL SELECT b, a FROM e),
         |reach(id, label) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT ed.id, r.label FROM ed JOIN reach r ON ed.nbr = r.id),
         |lab AS (SELECT id, CAST(min(label) AS BIGINT) AS component_id FROM reach GROUP BY id),
         |nn AS (SELECT component_id, CAST(count(*) AS BIGINT) AS n_nodes FROM lab GROUP BY 1),
         |ne AS (SELECT l.component_id, CAST(count(*) AS BIGINT) AS n_edges
         |       FROM e JOIN lab l ON e.a = l.id GROUP BY 1)
         |SELECT nn.component_id, nn.n_nodes, ne.n_edges,
         |       round(2 * ne.n_edges / (nn.n_nodes * (nn.n_nodes - 1)), 6) AS density
         |FROM nn JOIN ne ON nn.component_id = ne.component_id
         |ORDER BY nn.component_id""".stripMargin,

    // frame-hash inverted-index self-join (64-byte frames, DISTINCT per
    // doc), hot-frame df cap at 50, shared >= 2, containment over the
    // capped frame space — strlen == octet_length on the ASCII payload
    "multimodal_near_dedup" ->
      """WITH fr AS (SELECT DISTINCT doc_id,
        |        unnest(list_transform(range(0, (strlen(text) + 63) // 64),
        |          f -> md5(substr(text, CAST(f * 64 + 1 AS INT), 64)))) AS fh
        |      FROM documents),
        |cap AS (SELECT fh FROM fr GROUP BY fh HAVING count(*) <= 50),
        |fc AS (SELECT fr.* FROM fr JOIN cap USING (fh)),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nf FROM fc GROUP BY 1),
        |p AS (SELECT f1.doc_id AS a, f2.doc_id AS b, CAST(count(*) AS BIGINT) AS shared_frames
        |      FROM fc f1 JOIN fc f2 ON f1.fh = f2.fh AND f1.doc_id < f2.doc_id
        |      GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT p.a, p.b, p.shared_frames,
        |       round(p.shared_frames / least(sa.nf, sb.nf), 6) AS containment
        |FROM p JOIN sz sa ON p.a = sa.doc_id JOIN sz sb ON p.b = sb.doc_id
        |ORDER BY p.a, p.b""".stripMargin,

    // dataset card: every metric an exact fold; shares/fractions single
    // IEEE divisions rounded 6; p50 = quantile_cont ≡ Spark percentile
    "pipeline_dataset_card" ->
      """WITH toks AS (SELECT doc_id, lang, source,
        |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks FROM documents),
        |corpus AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |        CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        |        CAST(max(n_toks) AS BIGINT) AS max_tokens,
        |        round(CAST(sum(n_toks) AS DOUBLE) / count(*), 6) AS avg_doc_tokens,
        |        round(quantile_cont(n_toks, 0.5e0), 6) AS p50_tokens,
        |        CAST(count(DISTINCT source) AS BIGINT) AS n_sources FROM toks),
        |scalars AS (
        |  SELECT 'corpus' AS section, 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM corpus
        |  UNION ALL SELECT 'corpus', 'n_tokens', CAST(n_tokens AS DOUBLE) FROM corpus
        |  UNION ALL SELECT 'corpus', 'avg_doc_tokens', avg_doc_tokens FROM corpus
        |  UNION ALL SELECT 'length', 'max_tokens', CAST(max_tokens AS DOUBLE) FROM corpus
        |  UNION ALL SELECT 'length', 'p50_tokens', p50_tokens FROM corpus
        |  UNION ALL SELECT 'source', 'n_sources', CAST(n_sources AS DOUBLE) FROM corpus),
        |langs AS (SELECT 'lang' AS section, lang AS metric,
        |        round(count(*) / (SELECT n_docs FROM corpus), 6) AS value
        |      FROM toks GROUP BY lang),
        |ex AS (SELECT 'dedup' AS section, 'exact_dup_docs' AS metric,
        |        CAST(count(*) - count(DISTINCT md5(substr(text, 1, 80))) AS DOUBLE) AS value
        |      FROM documents),
        |ch AS (SELECT 'dedup' AS section, 'paragraph_dup_frac' AS metric,
        |        round((count(*) - count(DISTINCT c)) / count(*), 6) AS value
        |      FROM (SELECT unnest(list_transform(range((len(string_split(text, ' ')) + 14) // 15),
        |              i -> md5(array_to_string((string_split(text, ' '))[(i*15+1):(i*15+15)], ' ')))) AS c
        |            FROM documents))
        |SELECT * FROM scalars UNION ALL SELECT * FROM langs
        |UNION ALL SELECT * FROM ex UNION ALL SELECT * FROM ch
        |ORDER BY section, metric""".stripMargin,

    // signed md5 feature hashing: bucket = hex[1..4] via exact bigint
    // shifts (the split_sample derivation) mod 64, sign = hex digit 5
    // parity; zero buckets dropped on both sides, norm exact BIGINT
    "text_feature_hash" ->
      """WITH tok AS (SELECT doc_id, md5(t) AS h
        |             FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)),
        |m AS (SELECT doc_id,
        |        CAST(list_sum(list_transform(range(0, 4), k ->
        |          CAST(strpos('0123456789abcdef', substr(h, CAST(k AS INT) + 1, 1)) - 1 AS BIGINT)
        |            << CAST(4 * (3 - k) AS INT))) AS BIGINT) % 64 AS dim,
        |        CASE WHEN (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) % 2 = 0
        |             THEN 1 ELSE -1 END AS sgn
        |      FROM tok),
        |w AS (SELECT doc_id, dim, CAST(sum(sgn) AS BIGINT) AS w FROM m
        |      GROUP BY 1, 2 HAVING sum(sgn) != 0),
        |nrm AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS ss FROM w GROUP BY 1)
        |SELECT w.doc_id, w.dim, w.w, round(w.w / sqrt(CAST(nrm.ss AS DOUBLE)), 6) AS w_norm
        |FROM w JOIN nrm ON w.doc_id = nrm.doc_id
        |ORDER BY w.doc_id, w.dim""".stripMargin,

    "dedup_embedding_cosine" -> embCosineOracleSql,
    // the metric-pruned twin is EXACT (recall-1 triangle-inequality prune),
    // so its oracle is the identical all-pairs SQL — the strongest check:
    // pruning must change nothing
    "dedup_embedding_cosine_pruned" -> embCosineOracleSql,
    "dedup_embedding_keepers_pruned" -> embKeepersOracleSql,

    "similarity_topk" ->
      s"""$quantCte,
         |dots AS (SELECT qq.vec_id AS query_id, qv.vec_id AS vec_id, CAST(sum(qq.x * qv.x) AS BIGINT) AS dot
         |         FROM q qq JOIN q qv ON qq.i = qv.i AND qq.vec_id < 10 AND qv.vec_id != qq.vec_id
         |         GROUP BY qq.vec_id, qv.vec_id),
         |scored AS (SELECT dots.query_id AS query_id, dots.vec_id AS vec_id,
         |             dot / (sqrt(CAST(nq.n AS DOUBLE)) * sqrt(CAST(nv.n AS DOUBLE))) AS cosine
         |           FROM dots JOIN nrm nq ON dots.query_id = nq.vec_id
         |                     JOIN nrm nv ON dots.vec_id = nv.vec_id),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
         |           FROM scored)
         |SELECT query_id, CAST(rank AS INT) AS rank, vec_id AS neighbor_id, round(cosine, 6) AS cosine
         |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // geometry: same quantized-integer cosine, deterministic stride-997
    // partner pairs, width-0.1 buckets; the IEEE division has identical
    // literal shape so bucket boundaries agree bit-for-bit
    "embedding_geometry" ->
      s"""$quantCte,
         |cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
         |ids AS (SELECT DISTINCT vec_id FROM q),
         |pr AS (SELECT ids.vec_id AS a, (ids.vec_id + 997) % cnt.n AS b
         |       FROM ids, cnt WHERE (ids.vec_id + 997) % cnt.n != ids.vec_id),
         |dots AS (SELECT pr.a, pr.b, CAST(sum(qa.x * qb.x) AS BIGINT) AS dot
         |         FROM pr JOIN q qa ON qa.vec_id = pr.a JOIN q qb ON qb.vec_id = pr.b AND qb.i = qa.i
         |         GROUP BY pr.a, pr.b),
         |sc AS (SELECT dot / (sqrt(CAST(na.n AS DOUBLE)) * sqrt(CAST(nb.n AS DOUBLE))) AS cosine
         |       FROM dots JOIN nrm na ON na.vec_id = dots.a JOIN nrm nb ON nb.vec_id = dots.b),
         |hist AS (SELECT CAST(least(floor(cosine * 10e0), 9) AS INT) AS bucket,
         |                CAST(count(*) AS BIGINT) AS n_pairs
         |         FROM sc GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS total_pairs FROM hist)
         |SELECT bucket, round(bucket / 10e0, 1) AS bucket_lo, n_pairs, total_pairs,
         |       round(n_pairs / total_pairs, 6) AS share
         |FROM hist CROSS JOIN tot ORDER BY bucket""".stripMargin,

    // same exact-integer scoring as similarity_topk; the near-dup ceiling
    // (cosine < 0.95) applies BEFORE ranking — the cut compares the same
    // IEEE division in both engines, so the band is bit-identical
    "similarity_hard_negatives" ->
      s"""$quantCte,
         |dots AS (SELECT qq.vec_id AS query_id, qv.vec_id AS vec_id, CAST(sum(qq.x * qv.x) AS BIGINT) AS dot
         |         FROM q qq JOIN q qv ON qq.i = qv.i AND qq.vec_id < 10 AND qv.vec_id != qq.vec_id
         |         GROUP BY qq.vec_id, qv.vec_id),
         |scored AS (SELECT dots.query_id AS query_id, dots.vec_id AS vec_id,
         |             dot / (sqrt(CAST(nq.n AS DOUBLE)) * sqrt(CAST(nv.n AS DOUBLE))) AS cosine
         |           FROM dots JOIN nrm nq ON dots.query_id = nq.vec_id
         |                     JOIN nrm nv ON dots.vec_id = nv.vec_id),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
         |           FROM scored WHERE cosine < 0.95)
         |SELECT query_id, CAST(rank AS INT) AS rank, vec_id AS neighbor_id, round(cosine, 6) AS cosine
         |FROM ranked WHERE rank > 5 AND rank <= 15 ORDER BY query_id, rank""".stripMargin,

    // nearest-centroid classifier eval: per-label SUM vectors (cosine is
    // scale-invariant, so sum ≡ centroid, all-BIGINT), argmax per test
    // vector, confusion + recall
    "embedding_classifier_eval" ->
      s"""$quantCte,
         |lab AS (SELECT vec_id, label FROM embeddings),
         |cents AS (SELECT l.label AS cand, q.i, CAST(sum(q.x) AS BIGINT) AS cx
         |          FROM q JOIN lab l USING (vec_id) WHERE q.vec_id % 5 != 0
         |          GROUP BY l.label, q.i),
         |cnn AS (SELECT cand, CAST(sum(cx * cx) AS BIGINT) AS cn FROM cents GROUP BY cand),
         |dots AS (SELECT q.vec_id, c.cand, CAST(sum(q.x * c.cx) AS BIGINT) AS dot
         |         FROM q JOIN cents c ON q.i = c.i WHERE q.vec_id % 5 = 0
         |         GROUP BY q.vec_id, c.cand),
         |scored AS (SELECT d.vec_id, d.cand,
         |             dot / (sqrt(CAST(nrm.n AS DOUBLE)) * sqrt(CAST(cnn.cn AS DOUBLE))) AS cos
         |           FROM dots d JOIN nrm ON d.vec_id = nrm.vec_id JOIN cnn ON d.cand = cnn.cand),
         |preds AS (SELECT s.vec_id, l.label AS actual, s.cand AS pred_label
         |          FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cand ASC) AS rn
         |                FROM scored) s JOIN lab l ON s.vec_id = l.vec_id
         |          WHERE rn = 1),
         |nn AS (SELECT actual, pred_label, CAST(count(*) AS BIGINT) AS n FROM preds GROUP BY 1, 2),
         |tt AS (SELECT actual, CAST(count(*) AS BIGINT) AS n_actual FROM preds GROUP BY 1)
         |SELECT nn.actual, nn.pred_label, nn.n, tt.n_actual,
         |       round(nn.n / tt.n_actual, 6) AS recall
         |FROM nn JOIN tt ON nn.actual = tt.actual
         |ORDER BY nn.actual, nn.pred_label""".stripMargin,

    // radius search: the same exact-integer scoring, a >= 0.3 predicate
    // instead of a rank window, rounded after the cut
    "similarity_range_search" ->
      s"""$quantCte,
         |dots AS (SELECT qq.vec_id AS query_id, qv.vec_id AS vec_id, CAST(sum(qq.x * qv.x) AS BIGINT) AS dot
         |         FROM q qq JOIN q qv ON qq.i = qv.i AND qq.vec_id < 10 AND qv.vec_id != qq.vec_id
         |         GROUP BY qq.vec_id, qv.vec_id),
         |scored AS (SELECT dots.query_id AS query_id, dots.vec_id AS vec_id,
         |             dot / (sqrt(CAST(nq.n AS DOUBLE)) * sqrt(CAST(nv.n AS DOUBLE))) AS cosine
         |           FROM dots JOIN nrm nq ON dots.query_id = nq.vec_id
         |                     JOIN nrm nv ON dots.vec_id = nv.vec_id)
         |SELECT query_id, vec_id AS neighbor_id, round(cosine, 6) AS cosine
         |FROM scored WHERE cosine >= 0.3e0 ORDER BY query_id, neighbor_id""".stripMargin,

    // recall@5 eval: replays all three proven algorithms (exact = e_*, IVF
    // chain verbatim from similarity_ivf, SRP-LSH chain with l_* renames
    // where names collide) and intersects the top-5 sets
    "similarity_recall_eval" ->
      s"""$quantCte,
         |e_dots AS (SELECT qq.vec_id AS query_id, qv.vec_id AS vec_id, CAST(sum(qq.x * qv.x) AS BIGINT) AS dot
         |           FROM q qq JOIN q qv ON qq.i = qv.i AND qq.vec_id < 10 AND qv.vec_id != qq.vec_id
         |           GROUP BY qq.vec_id, qv.vec_id),
         |e_scored AS (SELECT e_dots.query_id AS query_id, e_dots.vec_id AS vec_id,
         |               dot / (sqrt(CAST(nq.n AS DOUBLE)) * sqrt(CAST(nv.n AS DOUBLE))) AS cosine
         |             FROM e_dots JOIN nrm nq ON e_dots.query_id = nq.vec_id
         |                         JOIN nrm nv ON e_dots.vec_id = nv.vec_id),
         |e_top AS (SELECT query_id, vec_id FROM
         |          (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
         |           FROM e_scored) WHERE rank <= 5),
         |cdots AS (SELECT qv.vec_id, qc.vec_id AS cent_id, CAST(sum(qv.x * qc.x) AS BIGINT) AS dot
         |          FROM q qv JOIN q qc ON qv.i = qc.i AND qc.vec_id >= 100 AND qc.vec_id < 116
         |          GROUP BY qv.vec_id, qc.vec_id),
         |ccos AS (SELECT cdots.vec_id AS vec_id, cdots.cent_id AS cent_id,
         |           dot / (sqrt(CAST(nv.n AS DOUBLE)) * sqrt(CAST(nc.n AS DOUBLE))) AS ccos
         |         FROM cdots JOIN nrm nv ON cdots.vec_id = nv.vec_id
         |                    JOIN nrm nc ON cdots.cent_id = nc.vec_id),
         |assigned AS (SELECT vec_id, cent_id AS list_id FROM
         |             (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS r
         |              FROM ccos) WHERE r = 1),
         |probes AS (SELECT vec_id AS query_id, cent_id AS list_id FROM
         |           (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS r
         |            FROM ccos WHERE vec_id < 10) WHERE r <= 4),
         |i_cand AS (SELECT p.query_id, a.vec_id
         |           FROM probes p JOIN assigned a ON p.list_id = a.list_id AND a.vec_id != p.query_id),
         |i_dots AS (SELECT i_cand.query_id, i_cand.vec_id, CAST(sum(qq.x * qv.x) AS BIGINT) AS dot
         |           FROM i_cand JOIN q qq ON qq.vec_id = i_cand.query_id
         |                       JOIN q qv ON qv.vec_id = i_cand.vec_id AND qq.i = qv.i
         |           GROUP BY i_cand.query_id, i_cand.vec_id),
         |i_scored AS (SELECT i_dots.query_id AS query_id, i_dots.vec_id AS vec_id,
         |               dot / (sqrt(CAST(nq.n AS DOUBLE)) * sqrt(CAST(nv.n AS DOUBLE))) AS cosine
         |             FROM i_dots JOIN nrm nq ON i_dots.query_id = nq.vec_id
         |                         JOIN nrm nv ON i_dots.vec_id = nv.vec_id),
         |i_top AS (SELECT query_id, vec_id FROM
         |          (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
         |           FROM i_scored) WHERE rank <= 5),
         |params AS (SELECT GREATEST(4, CAST(ceil(log2(count(*) / 32.0)) AS INT)) AS np FROM embeddings),
         |planes AS (SELECT p, i, (1103515245 * (p * 64 + i + 1) + 12345) % 2147483648 - 1073741824 AS v
         |           FROM range(32) t1(p), range(64) t2(i), params WHERE p < params.np),
         |pdots AS (SELECT q.vec_id, planes.p, CAST(sum(q.x * planes.v) AS BIGINT) AS dot_p
         |          FROM q JOIN planes ON q.i = planes.i + 1
         |          GROUP BY q.vec_id, planes.p),
         |buckets AS (SELECT vec_id, CAST(sum(CASE WHEN dot_p > 0
         |              THEN (CAST(1 AS BIGINT) << CAST(p AS INT)) ELSE 0 END) AS BIGINT) AS bucket
         |            FROM pdots GROUP BY vec_id),
         |l_cand AS (SELECT bq.vec_id AS query_id, bv.vec_id AS vec_id
         |           FROM buckets bq JOIN buckets bv
         |             ON bit_count(xor(CAST(bq.bucket AS BIT), CAST(bv.bucket AS BIT))) <= 1
         |            AND bq.vec_id < 10 AND bv.vec_id != bq.vec_id),
         |l_dots AS (SELECT l_cand.query_id, l_cand.vec_id, CAST(sum(qq.x * qv.x) AS BIGINT) AS dot
         |           FROM l_cand JOIN q qq ON qq.vec_id = l_cand.query_id
         |                       JOIN q qv ON qv.vec_id = l_cand.vec_id AND qq.i = qv.i
         |           GROUP BY l_cand.query_id, l_cand.vec_id),
         |l_scored AS (SELECT l_dots.query_id AS query_id, l_dots.vec_id AS vec_id,
         |               dot / (sqrt(CAST(nq.n AS DOUBLE)) * sqrt(CAST(nv.n AS DOUBLE))) AS cosine
         |             FROM l_dots JOIN nrm nq ON l_dots.query_id = nq.vec_id
         |                         JOIN nrm nv ON l_dots.vec_id = nv.vec_id),
         |l_top AS (SELECT query_id, vec_id FROM
         |          (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
         |           FROM l_scored) WHERE rank <= 5),
         |m AS (SELECT 'ivf' AS method,
         |             (SELECT count(*) FROM e_top JOIN i_top USING (query_id, vec_id)) AS hits,
         |             (SELECT count(*) FROM e_top) AS n_expected
         |      UNION ALL
         |      SELECT 'lsh',
         |             (SELECT count(*) FROM e_top JOIN l_top USING (query_id, vec_id)),
         |             (SELECT count(*) FROM e_top))
         |SELECT method, CAST(hits AS BIGINT) AS hits, CAST(n_expected AS BIGINT) AS n_expected,
         |       round(hits / n_expected, 6) AS recall
         |FROM m ORDER BY method""".stripMargin,

    // planes derived from corpus size exactly like the engine's planesFor:
    // max(4, ceil(log2(n/32))) — 4 at sf0.01 (n=500), 6 at sf0.1 (n=2000).
    // range() only takes constants, so generate a 32-plane superset and
    // filter to np. Candidates are the multi-probe ring: buckets within
    // Hamming distance 1 of the query's bucket (bucket + every bit flip —
    // flips beyond np never match since those bits are always 0).
    "similarity_lsh" ->
      s"""$quantCte,
         |params AS (SELECT GREATEST(4, CAST(ceil(log2(count(*) / 32.0)) AS INT)) AS np FROM embeddings),
         |planes AS (SELECT p, i, (1103515245 * (p * 64 + i + 1) + 12345) % 2147483648 - 1073741824 AS v
         |           FROM range(32) t1(p), range(64) t2(i), params WHERE p < params.np),
         |pdots AS (SELECT q.vec_id, planes.p, CAST(sum(q.x * planes.v) AS BIGINT) AS dot_p
         |          FROM q JOIN planes ON q.i = planes.i + 1
         |          GROUP BY q.vec_id, planes.p),
         |buckets AS (SELECT vec_id, CAST(sum(CASE WHEN dot_p > 0
         |              THEN (CAST(1 AS BIGINT) << CAST(p AS INT)) ELSE 0 END) AS BIGINT) AS bucket
         |            FROM pdots GROUP BY vec_id),
         |cand AS (SELECT bq.vec_id AS query_id, bv.vec_id AS vec_id, bv.bucket AS bucket
         |         FROM buckets bq JOIN buckets bv
         |           ON bit_count(xor(CAST(bq.bucket AS BIT), CAST(bv.bucket AS BIT))) <= 1
         |          AND bq.vec_id < 10 AND bv.vec_id != bq.vec_id),
         |dots AS (SELECT cand.query_id, cand.vec_id, cand.bucket,
         |                CAST(sum(qq.x * qv.x) AS BIGINT) AS dot
         |         FROM cand JOIN q qq ON qq.vec_id = cand.query_id
         |                   JOIN q qv ON qv.vec_id = cand.vec_id AND qq.i = qv.i
         |         GROUP BY cand.query_id, cand.vec_id, cand.bucket),
         |scored AS (SELECT dots.query_id AS query_id, dots.vec_id AS vec_id, dots.bucket AS bucket,
         |             dot / (sqrt(CAST(nq.n AS DOUBLE)) * sqrt(CAST(nv.n AS DOUBLE))) AS cosine
         |           FROM dots JOIN nrm nq ON dots.query_id = nq.vec_id
         |                     JOIN nrm nv ON dots.vec_id = nv.vec_id),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
         |           FROM scored)
         |SELECT query_id, CAST(rank AS INT) AS rank, vec_id AS neighbor_id,
         |       round(cosine, 6) AS cosine, bucket
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // knn graph: the lsh CTEs with the query restriction dropped — every
    // vector ranks its own bucket-ring candidates
    "similarity_knn_graph" ->
      s"""$quantCte,
         |params AS (SELECT GREATEST(4, CAST(ceil(log2(count(*) / 32.0)) AS INT)) AS np FROM embeddings),
         |planes AS (SELECT p, i, (1103515245 * (p * 64 + i + 1) + 12345) % 2147483648 - 1073741824 AS v
         |           FROM range(32) t1(p), range(64) t2(i), params WHERE p < params.np),
         |pdots AS (SELECT q.vec_id, planes.p, CAST(sum(q.x * planes.v) AS BIGINT) AS dot_p
         |          FROM q JOIN planes ON q.i = planes.i + 1
         |          GROUP BY q.vec_id, planes.p),
         |buckets AS (SELECT vec_id, CAST(sum(CASE WHEN dot_p > 0
         |              THEN (CAST(1 AS BIGINT) << CAST(p AS INT)) ELSE 0 END) AS BIGINT) AS bucket
         |            FROM pdots GROUP BY vec_id),
         |cand AS (SELECT ba.vec_id AS a, bb.vec_id AS b
         |         FROM buckets ba JOIN buckets bb
         |           ON bit_count(xor(CAST(ba.bucket AS BIT), CAST(bb.bucket AS BIT))) <= 1
         |          AND bb.vec_id != ba.vec_id),
         |dots AS (SELECT cand.a, cand.b, CAST(sum(qa.x * qb.x) AS BIGINT) AS dot
         |         FROM cand JOIN q qa ON qa.vec_id = cand.a
         |                   JOIN q qb ON qb.vec_id = cand.b AND qa.i = qb.i
         |         GROUP BY cand.a, cand.b),
         |scored AS (SELECT dots.a, dots.b,
         |             dot / (sqrt(CAST(na.n AS DOUBLE)) * sqrt(CAST(nb.n AS DOUBLE))) AS cosine
         |           FROM dots JOIN nrm na ON dots.a = na.vec_id
         |                     JOIN nrm nb ON dots.b = nb.vec_id),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY a ORDER BY cosine DESC, b ASC) AS rank
         |           FROM scored)
         |SELECT a AS vec_id, CAST(rank AS INT) AS rank, b AS neighbor_id,
         |       round(cosine, 6) AS cosine
         |FROM ranked WHERE rank <= 3 ORDER BY vec_id, rank""".stripMargin,

    // capped twin: identical CTEs, candidate generation restricted to
    // join-key buckets holding <= 64 corpus vectors
    "similarity_knn_graph_capped" ->
      s"""$quantCte,
         |params AS (SELECT GREATEST(4, CAST(ceil(log2(count(*) / 32.0)) AS INT)) AS np FROM embeddings),
         |planes AS (SELECT p, i, (1103515245 * (p * 64 + i + 1) + 12345) % 2147483648 - 1073741824 AS v
         |           FROM range(32) t1(p), range(64) t2(i), params WHERE p < params.np),
         |pdots AS (SELECT q.vec_id, planes.p, CAST(sum(q.x * planes.v) AS BIGINT) AS dot_p
         |          FROM q JOIN planes ON q.i = planes.i + 1
         |          GROUP BY q.vec_id, planes.p),
         |buckets AS (SELECT vec_id, CAST(sum(CASE WHEN dot_p > 0
         |              THEN (CAST(1 AS BIGINT) << CAST(p AS INT)) ELSE 0 END) AS BIGINT) AS bucket
         |            FROM pdots GROUP BY vec_id),
         |okb AS (SELECT bucket FROM buckets GROUP BY bucket HAVING count(*) <= 64),
         |cand AS (SELECT ba.vec_id AS a, bb.vec_id AS b
         |         FROM buckets ba JOIN buckets bb
         |           ON bit_count(xor(CAST(ba.bucket AS BIT), CAST(bb.bucket AS BIT))) <= 1
         |          AND bb.vec_id != ba.vec_id
         |         JOIN okb ON okb.bucket = bb.bucket),
         |dots AS (SELECT cand.a, cand.b, CAST(sum(qa.x * qb.x) AS BIGINT) AS dot
         |         FROM cand JOIN q qa ON qa.vec_id = cand.a
         |                   JOIN q qb ON qb.vec_id = cand.b AND qa.i = qb.i
         |         GROUP BY cand.a, cand.b),
         |scored AS (SELECT dots.a, dots.b,
         |             dot / (sqrt(CAST(na.n AS DOUBLE)) * sqrt(CAST(nb.n AS DOUBLE))) AS cosine
         |           FROM dots JOIN nrm na ON dots.a = na.vec_id
         |                     JOIN nrm nb ON dots.b = nb.vec_id),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY a ORDER BY cosine DESC, b ASC) AS rank
         |           FROM scored)
         |SELECT a AS vec_id, CAST(rank AS INT) AS rank, b AS neighbor_id,
         |       round(cosine, 6) AS cosine
         |FROM ranked WHERE rank <= 3 ORDER BY vec_id, rank""".stripMargin,

    // knn cap recall: both ranked chains share the bucket CTEs; the
    // summary folds exact-vs-capped pair overlap to one row
    "similarity_knn_recall" ->
      s"""$quantCte,
         |params AS (SELECT GREATEST(4, CAST(ceil(log2(count(*) / 32.0)) AS INT)) AS np FROM embeddings),
         |planes AS (SELECT p, i, (1103515245 * (p * 64 + i + 1) + 12345) % 2147483648 - 1073741824 AS v
         |           FROM range(32) t1(p), range(64) t2(i), params WHERE p < params.np),
         |pdots AS (SELECT q.vec_id, planes.p, CAST(sum(q.x * planes.v) AS BIGINT) AS dot_p
         |          FROM q JOIN planes ON q.i = planes.i + 1
         |          GROUP BY q.vec_id, planes.p),
         |buckets AS (SELECT vec_id, CAST(sum(CASE WHEN dot_p > 0
         |              THEN (CAST(1 AS BIGINT) << CAST(p AS INT)) ELSE 0 END) AS BIGINT) AS bucket
         |            FROM pdots GROUP BY vec_id),
         |okb AS (SELECT bucket FROM buckets GROUP BY bucket HAVING count(*) <= 64),
         |cand AS (SELECT ba.vec_id AS a, bb.vec_id AS b,
         |                CASE WHEN okb.bucket IS NOT NULL THEN 1 ELSE 0 END AS in_cap
         |         FROM buckets ba JOIN buckets bb
         |           ON bit_count(xor(CAST(ba.bucket AS BIT), CAST(bb.bucket AS BIT))) <= 1
         |          AND bb.vec_id != ba.vec_id
         |         LEFT JOIN okb ON okb.bucket = bb.bucket),
         |dots AS (SELECT cand.a, cand.b, cand.in_cap, CAST(sum(qa.x * qb.x) AS BIGINT) AS dot
         |         FROM cand JOIN q qa ON qa.vec_id = cand.a
         |                   JOIN q qb ON qb.vec_id = cand.b AND qa.i = qb.i
         |         GROUP BY cand.a, cand.b, cand.in_cap),
         |scored AS (SELECT dots.a, dots.b, dots.in_cap,
         |             dot / (sqrt(CAST(na.n AS DOUBLE)) * sqrt(CAST(nb.n AS DOUBLE))) AS cosine
         |           FROM dots JOIN nrm na ON dots.a = na.vec_id
         |                     JOIN nrm nb ON dots.b = nb.vec_id),
         |e AS (SELECT a, b FROM (SELECT a, b,
         |        row_number() OVER (PARTITION BY a ORDER BY cosine DESC, b ASC) AS rank
         |      FROM scored) WHERE rank <= 3),
         |c AS (SELECT a, b FROM (SELECT a, b,
         |        row_number() OVER (PARTITION BY a ORDER BY cosine DESC, b ASC) AS rank
         |      FROM scored WHERE in_cap = 1) WHERE rank <= 3),
         |per AS (SELECT e.a, CAST(count(*) AS BIGINT) AS n_exact,
         |               CAST(sum(CASE WHEN c.b IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
         |        FROM e LEFT JOIN c ON c.a = e.a AND c.b = e.b GROUP BY e.a)
         |SELECT CAST(count(*) AS BIGINT) AS n_vectors,
         |       CAST(sum(n_exact) AS BIGINT) AS n_pairs_exact,
         |       CAST(sum(n_hit) AS BIGINT) AS n_pairs_hit,
         |       CAST(sum(CASE WHEN n_hit = n_exact THEN 1 ELSE 0 END) AS BIGINT) AS n_full_recall,
         |       round(sum(n_hit) / sum(n_exact), 6) AS recall
         |FROM per""".stripMargin,

    // IVF: centroids = vec_id in [100, 116); assignment/probes replay the
    // engine's argmax (ties → lower cent_id) via row_number windows.
    // PQ replay: sub-vector split (m = (i-1)//8, d = 1..8), codeword k =
    // seed id offset + 1, exact BIGINT L2² per (vec, m, k), code = rank-1
    // of (d2 ASC, k ASC) ≡ Spark's first-min array_position, ADC = sum of
    // the query's table entries at the corpus codes — all-integer output
    "similarity_pq" ->
      s"""$quantCte,
         |sub AS (SELECT vec_id, (i - 1) // 8 AS m, i - ((i - 1) // 8) * 8 AS d, x FROM q),
         |cbk AS (SELECT vec_id - 100 + 1 AS k, m, d, x FROM sub
         |        WHERE vec_id >= 100 AND vec_id < 116),
         |dist AS (SELECT s.vec_id, s.m, c.k, CAST(sum((s.x - c.x) * (s.x - c.x)) AS BIGINT) AS d2
         |         FROM sub s JOIN cbk c ON s.m = c.m AND s.d = c.d
         |         GROUP BY s.vec_id, s.m, c.k),
         |codes AS (SELECT vec_id, m, k AS code FROM
         |           (SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2 ASC, k ASC) AS r
         |            FROM dist) WHERE r = 1),
         |adist AS (SELECT qd.vec_id AS query_id, c.vec_id AS vec_id, CAST(sum(qd.d2) AS BIGINT) AS adist
         |          FROM codes c JOIN dist qd ON qd.m = c.m AND qd.k = c.code
         |          WHERE qd.vec_id < 10 AND c.vec_id != qd.vec_id
         |          GROUP BY 1, 2),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist ASC, vec_id ASC) AS rank
         |           FROM adist)
         |SELECT query_id, CAST(rank AS INT) AS rank, vec_id AS neighbor_id, adist
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // SQ8: per-dim [min,max] affine codes (no codebook), asymmetric
    // integer scoring — query exact ×255, corpus dequantized mn·255+c·span;
    // floor div of non-negatives ≡ Spark's `div`
    "similarity_sq" ->
      s"""$quantCte,
         |st AS (SELECT i, min(x) AS mn, greatest(1, max(x) - min(x)) AS span
         |       FROM q GROUP BY i),
         |codes AS (SELECT vec_id, i, ((x - mn) * 255) // span AS code
         |          FROM q JOIN st USING (i)),
         |deq AS (SELECT vec_id, i, mn * 255 + code * span AS v
         |        FROM codes JOIN st USING (i)),
         |qs AS (SELECT vec_id AS query_id, i, x * 255 AS vq FROM q WHERE vec_id < 10),
         |sc AS (SELECT query_id, d.vec_id AS vec_id, CAST(sum(vq * v) AS BIGINT) AS adist
         |       FROM qs JOIN deq d USING (i) WHERE d.vec_id != query_id
         |       GROUP BY 1, 2),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist DESC, vec_id ASC) AS rank
         |           FROM sc)
         |SELECT query_id, CAST(rank AS INT) AS rank, vec_id AS neighbor_id, adist
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // rare-3-gram recall (shingle strings replay the engine's distinct
    // 60-bit hashes — injective at fixture scale, the ngramJaccard
    // precedent; DF cap mirrored) -> quantized-cosine rerank; candidates
    // without embeddings drop on both sides' inner join
    "pipeline_hybrid_search" ->
      s"""$quantCte,
         |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |shg AS (SELECT DISTINCT doc_id,
         |          unnest(list_transform(range(1, len(w) - 1),
         |                 i -> array_to_string(w[i:i+2], ' '))) AS g
         |        FROM toks WHERE len(w) >= 3),
         |rare AS (SELECT doc_id, g FROM
         |          (SELECT *, count(*) OVER (PARTITION BY g) AS df FROM shg)
         |         WHERE df <= 20),
         |cands AS (SELECT qi.doc_id AS query_id, ri.doc_id AS doc_id,
         |            CAST(count(*) AS BIGINT) AS n_shared_terms
         |          FROM rare qi JOIN rare ri ON qi.g = ri.g
         |          WHERE qi.doc_id < 10 AND ri.doc_id != qi.doc_id
         |          GROUP BY 1, 2 HAVING count(*) >= 2),
         |dots AS (SELECT c.query_id, c.doc_id, c.n_shared_terms, CAST(sum(qq.x * qv.x) AS BIGINT) AS dot
         |         FROM cands c JOIN q qq ON qq.vec_id = c.query_id
         |                      JOIN q qv ON qv.vec_id = c.doc_id AND qq.i = qv.i
         |         GROUP BY 1, 2, 3),
         |scored AS (SELECT dots.query_id AS query_id, dots.doc_id AS doc_id, dots.n_shared_terms,
         |             dot / (sqrt(CAST(nq.n AS DOUBLE)) * sqrt(CAST(nv.n AS DOUBLE))) AS cosine
         |           FROM dots JOIN nrm nq ON dots.query_id = nq.vec_id
         |                     JOIN nrm nv ON dots.doc_id = nv.vec_id),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, doc_id ASC) AS rank
         |           FROM scored)
         |SELECT query_id, CAST(rank AS INT) AS rank, doc_id, n_shared_terms,
         |       round(cosine, 6) AS cosine
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // RRF: the hybrid text CTEs cut to a rank list, the brute-force vector
    // CTEs cut to another, FULL OUTER fused by the mirrored two-term
    // 1e0/(60+rank) sum, ranked (rrf DESC, doc_id ASC)
    "pipeline_hybrid_rrf" ->
      s"""$quantCte,
         |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |shg AS (SELECT DISTINCT doc_id,
         |          unnest(list_transform(range(1, len(w) - 1),
         |                 i -> array_to_string(w[i:i+2], ' '))) AS g
         |        FROM toks WHERE len(w) >= 3),
         |rare AS (SELECT doc_id, g FROM
         |          (SELECT *, count(*) OVER (PARTITION BY g) AS df FROM shg)
         |         WHERE df <= 20),
         |cands AS (SELECT qi.doc_id AS query_id, ri.doc_id AS doc_id,
         |            CAST(count(*) AS BIGINT) AS n_shared_terms
         |          FROM rare qi JOIN rare ri ON qi.g = ri.g
         |          WHERE qi.doc_id < 10 AND ri.doc_id != qi.doc_id
         |          GROUP BY 1, 2 HAVING count(*) >= 2),
         |tl AS (SELECT query_id, doc_id, CAST(r_text AS INT) AS r_text FROM
         |        (SELECT *, row_number() OVER (PARTITION BY query_id
         |           ORDER BY n_shared_terms DESC, doc_id ASC) AS r_text FROM cands)
         |       WHERE r_text <= 20),
         |vdots AS (SELECT qq.vec_id AS query_id, qv.vec_id AS doc_id,
         |            CAST(sum(qq.x * qv.x) AS BIGINT) AS dot
         |          FROM q qq JOIN q qv ON qq.i = qv.i
         |            AND qq.vec_id < 10 AND qv.vec_id != qq.vec_id
         |          GROUP BY 1, 2),
         |vscored AS (SELECT vdots.query_id AS query_id, vdots.doc_id AS doc_id,
         |              dot / (sqrt(CAST(nq.n AS DOUBLE)) * sqrt(CAST(nv.n AS DOUBLE))) AS cosine
         |            FROM vdots JOIN nrm nq ON vdots.query_id = nq.vec_id
         |                       JOIN nrm nv ON vdots.doc_id = nv.vec_id),
         |vl AS (SELECT query_id, doc_id, CAST(r_vec AS INT) AS r_vec FROM
         |        (SELECT *, row_number() OVER (PARTITION BY query_id
         |           ORDER BY cosine DESC, doc_id ASC) AS r_vec FROM vscored)
         |       WHERE r_vec <= 20),
         |fused AS (SELECT coalesce(tl.query_id, vl.query_id) AS query_id,
         |            coalesce(tl.doc_id, vl.doc_id) AS doc_id, tl.r_text, vl.r_vec,
         |            coalesce(1e0 / (60 + tl.r_text), 0e0) + coalesce(1e0 / (60 + vl.r_vec), 0e0) AS rrf
         |          FROM tl FULL OUTER JOIN vl
         |            ON tl.query_id = vl.query_id AND tl.doc_id = vl.doc_id),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |             ORDER BY rrf DESC, doc_id ASC) AS rank FROM fused)
         |SELECT query_id, CAST(rank AS INT) AS rank, doc_id, r_text, r_vec,
         |       round(rrf, 6) AS rrf_score
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // ivf's assignment/probe CTEs chained into pq's code/table CTEs:
    // candidates from the probe join, scored by the query's ADC table
    "similarity_ivfpq" ->
      s"""$quantCte,
         |cdots AS (SELECT qv.vec_id, qc.vec_id AS cent_id, CAST(sum(qv.x * qc.x) AS BIGINT) AS dot
         |          FROM q qv JOIN q qc ON qv.i = qc.i AND qc.vec_id >= 100 AND qc.vec_id < 116
         |          GROUP BY qv.vec_id, qc.vec_id),
         |ccos AS (SELECT cdots.vec_id AS vec_id, cdots.cent_id AS cent_id,
         |           dot / (sqrt(CAST(nv.n AS DOUBLE)) * sqrt(CAST(nc.n AS DOUBLE))) AS ccos
         |         FROM cdots JOIN nrm nv ON cdots.vec_id = nv.vec_id
         |                    JOIN nrm nc ON cdots.cent_id = nc.vec_id),
         |assigned AS (SELECT vec_id, cent_id AS list_id FROM
         |             (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS r
         |              FROM ccos) WHERE r = 1),
         |probes AS (SELECT vec_id AS query_id, cent_id AS list_id FROM
         |           (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS r
         |            FROM ccos WHERE vec_id < 10) WHERE r <= 4),
         |sub AS (SELECT vec_id, (i - 1) // 8 AS m, i - ((i - 1) // 8) * 8 AS d, x FROM q),
         |cbk AS (SELECT vec_id - 100 + 1 AS k, m, d, x FROM sub
         |        WHERE vec_id >= 100 AND vec_id < 116),
         |dist AS (SELECT s.vec_id, s.m, c.k, CAST(sum((s.x - c.x) * (s.x - c.x)) AS BIGINT) AS d2
         |         FROM sub s JOIN cbk c ON s.m = c.m AND s.d = c.d
         |         GROUP BY s.vec_id, s.m, c.k),
         |codes AS (SELECT vec_id, m, k AS code FROM
         |           (SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2 ASC, k ASC) AS r
         |            FROM dist) WHERE r = 1),
         |cand AS (SELECT p.query_id, a.vec_id, a.list_id
         |         FROM probes p JOIN assigned a ON p.list_id = a.list_id AND a.vec_id != p.query_id),
         |adist AS (SELECT cand.query_id AS query_id, cand.vec_id AS vec_id, cand.list_id AS list_id,
         |            CAST(sum(qd.d2) AS BIGINT) AS adist
         |          FROM cand JOIN codes c ON c.vec_id = cand.vec_id
         |                    JOIN dist qd ON qd.vec_id = cand.query_id AND qd.m = c.m AND qd.k = c.code
         |          GROUP BY 1, 2, 3),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist ASC, vec_id ASC) AS rank
         |           FROM adist)
         |SELECT query_id, CAST(rank AS INT) AS rank, vec_id AS neighbor_id, adist, list_id
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // outlier worklist: same centroid-cosine CTEs as ivf; per-vec best =
    // rank-1 of (ccos DESC, cent_id ASC) — Spark's array_position first-max
    "embedding_outliers" ->
      s"""$quantCte,
         |cdots AS (SELECT qv.vec_id, qc.vec_id AS cent_id, CAST(sum(qv.x * qc.x) AS BIGINT) AS dot
         |          FROM q qv JOIN q qc ON qv.i = qc.i AND qc.vec_id >= 100 AND qc.vec_id < 116
         |          GROUP BY qv.vec_id, qc.vec_id),
         |ccos AS (SELECT cdots.vec_id AS vec_id, cdots.cent_id AS cent_id,
         |           dot / (sqrt(CAST(nv.n AS DOUBLE)) * sqrt(CAST(nc.n AS DOUBLE))) AS ccos
         |         FROM cdots JOIN nrm nv ON cdots.vec_id = nv.vec_id
         |                    JOIN nrm nc ON cdots.cent_id = nc.vec_id),
         |best AS (SELECT vec_id, cent_id AS nearest_list, ccos AS best FROM
         |          (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS r
         |           FROM ccos) WHERE r = 1),
         |ranked AS (SELECT *, row_number() OVER (ORDER BY best ASC, vec_id ASC) AS rank FROM best)
         |SELECT CAST(rank AS INT) AS rank, vec_id, nearest_list, round(best, 6) AS best_cosine
         |FROM ranked WHERE rank <= 20 ORDER BY rank""".stripMargin,

    "similarity_ivf" -> ivfOracleSql,
    "similarity_ivf_hier" -> ivfHierOracleSql,
    // the hier store materializes ivfHierTopK's relation (frozen two-level
    // scheme recorded in the snapshot; assignment order-independent), so
    // the in-line hier oracle proves the store's build, append, and probe
    "similarity_ivf_hier_stored" -> ivfHierOracleSql,
    // the stored index is a MATERIALIZATION of the same relation (frozen
    // deterministic quantizer, build(<300) + append(>=300) covers the full
    // corpus, assignment is order-independent), so the in-line oracle
    // proves the store's build, append, and probe in one hash
    "similarity_ivf_stored" -> ivfOracleSql,

    // store-served assignment: the frozen quantizer is the seeded [100,116)
    // set (build covers the seeds; append reuses the frozen centroids), so
    // the oracle is the family's argmax-cosine assignment replayed directly
    "similarity_assign_stored" ->
      s"""$quantCte,
         |cdots AS (SELECT qv.vec_id, qc.vec_id AS cent_id, CAST(sum(qv.x * qc.x) AS BIGINT) AS dot
         |          FROM q qv JOIN q qc ON qv.i = qc.i AND qc.vec_id >= 100 AND qc.vec_id < 116
         |          GROUP BY 1, 2),
         |ccos AS (SELECT cdots.vec_id AS vec_id, cdots.cent_id AS cent_id,
         |           dot / (sqrt(CAST(nv.n AS DOUBLE)) * sqrt(CAST(nc.n AS DOUBLE))) AS ccos
         |         FROM cdots JOIN nrm nv ON cdots.vec_id = nv.vec_id
         |                    JOIN nrm nc ON cdots.cent_id = nc.vec_id)
         |SELECT vec_id, cent_id AS cluster_id FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS r
         |   FROM ccos) WHERE r = 1 ORDER BY vec_id""".stripMargin,

    // k-means Lloyd step: replay the IVF assignment (argmax cosine, ties →
    // lower cent_id) then per-(cluster, dim) exact sums; mean and shift are
    // IEEE divisions of exact ints
    "embedding_kmeans" ->
      s"""$quantCte,
         |cdots AS (SELECT qv.vec_id, qc.vec_id AS cent_id, CAST(sum(qv.x * qc.x) AS BIGINT) AS dot
         |          FROM q qv JOIN q qc ON qv.i = qc.i AND qc.vec_id >= 100 AND qc.vec_id < 116
         |          GROUP BY qv.vec_id, qc.vec_id),
         |ccos AS (SELECT cdots.vec_id AS vec_id, cdots.cent_id AS cent_id,
         |           dot / (sqrt(CAST(nv.n AS DOUBLE)) * sqrt(CAST(nc.n AS DOUBLE))) AS ccos
         |         FROM cdots JOIN nrm nv ON cdots.vec_id = nv.vec_id
         |                    JOIN nrm nc ON cdots.cent_id = nc.vec_id),
         |assigned AS (SELECT vec_id, cent_id AS cluster_id FROM
         |             (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS r
         |              FROM ccos) WHERE r = 1),
         |dims AS (SELECT a.cluster_id, CAST(q.i - 1 AS INT) AS dim,
         |           CAST(count(*) AS BIGINT) AS n_members, CAST(sum(q.x) AS BIGINT) AS sum_x
         |         FROM assigned a JOIN q ON q.vec_id = a.vec_id
         |         GROUP BY a.cluster_id, q.i)
         |SELECT d.cluster_id AS cluster_id, d.dim, d.n_members, d.sum_x, c.x AS old_x,
         |       round(d.sum_x / d.n_members, 6) AS new_x,
         |       round(d.sum_x / d.n_members - c.x, 6) AS shift
         |FROM dims d JOIN q c ON c.vec_id = d.cluster_id AND c.i = d.dim + 1
         |ORDER BY cluster_id, dim""".stripMargin,

    // cluster-balanced sampling: the same assignment CTE, then an exact
    // per-cluster quota by md5(vec_id) rank (vec_id tiebreak)
    "embedding_cluster_sample" ->
      s"""$quantCte,
         |cdots AS (SELECT qv.vec_id, qc.vec_id AS cent_id, CAST(sum(qv.x * qc.x) AS BIGINT) AS dot
         |          FROM q qv JOIN q qc ON qv.i = qc.i AND qc.vec_id >= 100 AND qc.vec_id < 116
         |          GROUP BY qv.vec_id, qc.vec_id),
         |ccos AS (SELECT cdots.vec_id AS vec_id, cdots.cent_id AS cent_id,
         |           dot / (sqrt(CAST(nv.n AS DOUBLE)) * sqrt(CAST(nc.n AS DOUBLE))) AS ccos
         |         FROM cdots JOIN nrm nv ON cdots.vec_id = nv.vec_id
         |                    JOIN nrm nc ON cdots.cent_id = nc.vec_id),
         |assigned AS (SELECT vec_id, cent_id AS cluster_id FROM
         |             (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS r
         |              FROM ccos) WHERE r = 1),
         |ranked AS (SELECT cluster_id, vec_id,
         |             row_number() OVER (PARTITION BY cluster_id
         |                                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rank
         |           FROM assigned)
         |SELECT cluster_id, CAST(rank AS INT) AS rank, vec_id
         |FROM ranked WHERE rank <= 20 ORDER BY cluster_id, rank""".stripMargin,

    "events_sessionize" ->
      """WITH l AS (SELECT user_id, event_id, ts, value,
        |             lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
        |           FROM events),
        |s AS (SELECT *, CASE WHEN prev_ms IS NULL OR epoch_ms(ts) - prev_ms > 1800000
        |                     THEN 1 ELSE 0 END AS new_session FROM l),
        |c AS (SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM s)
        |SELECT user_id, session_id, count(*) AS n_events,
        |       min(epoch_ms(ts)) AS start_ms, max(epoch_ms(ts)) AS end_ms,
        |       CAST(sum(CAST(value AS DECIMAL(18, 6))) AS DOUBLE) AS sum_value
        |FROM c GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,

    // native session_window semantics: a gap of exactly 30min starts a new
    // session (end-exclusive window merge), end = last event + gap
    "events_session_window" ->
      """WITH l AS (SELECT user_id, event_id, ts, value,
        |             lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
        |           FROM events),
        |s AS (SELECT *, CASE WHEN prev_ms IS NULL OR epoch_ms(ts) - prev_ms >= 1800000
        |                     THEN 1 ELSE 0 END AS new_session FROM l),
        |c AS (SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM s)
        |SELECT user_id, min(epoch_ms(ts)) AS start_ms,
        |       max(epoch_ms(ts)) + 1800000 AS end_ms, count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18, 6))) AS DOUBLE) AS sum_value
        |FROM c GROUP BY user_id, session_id ORDER BY user_id, start_ms""".stripMargin,

    "events_sliding" ->
      """WITH e AS (SELECT epoch_ms(ts) AS ms, event_type, value FROM events),
        |w AS (SELECT ms, event_type, value,
        |        (ms // 1800000 - k.k) * 1800000 AS ws
        |      FROM e, (VALUES (0), (1)) k(k)
        |      WHERE (ms // 1800000 - k.k) * 1800000 + 3600000 > ms
        |        AND (ms // 1800000 - k.k) * 1800000 <= ms)
        |SELECT ws AS window_start_ms, event_type, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18, 6))) AS DOUBLE) AS sum_value
        |FROM w GROUP BY ws, event_type ORDER BY window_start_ms, event_type""".stripMargin,

    "events_tumbling" ->
      """SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms, event_type,
        |       count(*) AS n, count(DISTINCT user_id) AS n_users,
        |       CAST(sum(CAST(value AS DECIMAL(18, 6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // as-of semantics replayed as the same ignore-nulls running window over
    // the (ms, event_id) total order — strictly-before via 1 PRECEDING
    "events_asof_join" ->
      """WITH t AS (SELECT user_id, event_id, event_type, value, epoch_ms(ts) AS ms
        |           FROM events WHERE event_type IN ('purchase', 'click', 'view')),
        |w AS (SELECT *,
        |        last_value(CASE WHEN event_type IN ('click', 'view') THEN event_id END IGNORE NULLS)
        |          OVER win AS match_event_id,
        |        last_value(CASE WHEN event_type IN ('click', 'view') THEN event_type END IGNORE NULLS)
        |          OVER win AS match_type,
        |        last_value(CASE WHEN event_type IN ('click', 'view') THEN ms END IGNORE NULLS)
        |          OVER win AS match_ms
        |      FROM t
        |      WINDOW win AS (PARTITION BY user_id ORDER BY ms, event_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id, ms, value, match_event_id, match_type, match_ms,
        |       ms - match_ms AS lag_ms
        |FROM w WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,

    // hourly buckets self-joined at +24h; inner join excludes hours with
    // no previous-day bucket; exact integer error sums, IEEE round 6
    "events_forecast_eval" ->
      """WITH h AS (SELECT event_type, epoch_ms(date_trunc('hour', ts)) AS hour_ms,
        |                  CAST(count(*) AS BIGINT) AS n
        |           FROM events GROUP BY 1, 2),
        |j AS (SELECT a.event_type, a.n, b.n AS fcst
        |      FROM h a JOIN h b ON a.event_type = b.event_type
        |        AND a.hour_ms = b.hour_ms + 86400000)
        |SELECT event_type, count(*) AS n_hours_eval,
        |       CAST(sum(abs(n - fcst)) AS BIGINT) AS abs_err_total,
        |       CAST(sum(n - fcst) AS BIGINT) AS err_total,
        |       round(sum(abs(n - fcst)) / count(*), 6) AS mae,
        |       round(sum(n - fcst) / count(*), 6) AS bias
        |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the same change-predicate windows: lag over (ms, event_id), running
    // sum run ids, per-run agg, lead for the [from, to) interval
    "events_status_history" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms FROM events),
        |l AS (SELECT *, lag(event_type) OVER w AS prev_type FROM e
        |      WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
        |c AS (SELECT *, CASE WHEN prev_type IS NULL OR prev_type != event_type
        |                     THEN 1 ELSE 0 END AS chg FROM l),
        |r AS (SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id FROM c),
        |runs AS (SELECT user_id, run_id, min(event_type) AS status,
        |                CAST(min(ms) AS BIGINT) AS valid_from_ms,
        |                count(*) AS n_events
        |         FROM r GROUP BY user_id, run_id)
        |SELECT user_id, run_id, status, valid_from_ms,
        |       lead(valid_from_ms) OVER (PARTITION BY user_id ORDER BY run_id) AS valid_to_ms,
        |       n_events
        |FROM runs ORDER BY user_id, run_id""".stripMargin,

    // the range join replayed as a plain inequality join (DuckDB's IEJoin
    // handles it); the Spark side's bucket trick is plan shape, not
    // semantics, so the direct join is the honest oracle
    "events_range_join" ->
      """WITH e AS (SELECT epoch_ms(ts) AS ms, user_id, event_id, event_type, value FROM events),
        |anchors AS (SELECT event_id AS anchor_id, ms - 300000 AS lo, ms + 300000 AS hi
        |            FROM e WHERE event_type = 'error'
        |            ORDER BY value DESC, event_id ASC LIMIT 20)
        |SELECT a.anchor_id, a.lo AS window_start_ms, a.hi AS window_end_ms,
        |       count(*) AS n_events, count(DISTINCT e.user_id) AS n_users,
        |       CAST(count(*) FILTER (WHERE e.event_type = 'error') AS BIGINT) AS n_errors,
        |       CAST(sum(CAST(e.value AS DECIMAL(18, 6))) AS DOUBLE) AS sum_value
        |FROM anchors a JOIN e ON e.ms >= a.lo AND e.ms < a.hi
        |GROUP BY 1, 2, 3 ORDER BY anchor_id""".stripMargin,

    "events_anomaly" ->
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |scored AS (
        |  SELECT hour, event_type, n,
        |    CAST(sum(n) OVER w AS BIGINT) AS prev_sum,
        |    count(*) OVER w AS prev_cnt
        |  FROM hourly
        |  WINDOW w AS (PARTITION BY event_type ORDER BY hour
        |               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT epoch_ms(hour) AS hour_ms, event_type, n,
        |  round(CAST(prev_sum AS DOUBLE) / CAST(prev_cnt AS DOUBLE), 6) AS baseline,
        |  round((CAST(n AS DOUBLE) - CAST(prev_sum AS DOUBLE) / CAST(prev_cnt AS DOUBLE))
        |        / (CAST(prev_sum AS DOUBLE) / CAST(prev_cnt AS DOUBLE) + 1e0), 6) AS spike_score
        |FROM scored WHERE prev_cnt >= 1
        |ORDER BY hour_ms, event_type""".stripMargin,

    "events_top_users" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type, user_id, count(*) AS n
        |  FROM events GROUP BY 1, 2, 3),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY day, event_type
        |                       ORDER BY n DESC, user_id ASC) AS rank
        |           FROM daily)
        |SELECT day, event_type, CAST(rank AS INT) AS rank, user_id, n
        |FROM ranked WHERE rank <= 3 ORDER BY day, event_type, rank""".stripMargin,

    // ordered multi-step funnel: step i+1 strictly after the user's
    // earliest in-order completion of step i
    "events_funnel_steps" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
        |r1 AS (SELECT user_id, min(ms) AS t FROM e WHERE event_type = 'signup' GROUP BY user_id),
        |r2 AS (SELECT e.user_id, min(e.ms) AS t
        |       FROM e JOIN r1 ON e.user_id = r1.user_id
        |       WHERE e.event_type = 'click' AND e.ms > r1.t GROUP BY e.user_id),
        |r3 AS (SELECT e.user_id, min(e.ms) AS t
        |       FROM e JOIN r2 ON e.user_id = r2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ms > r2.t GROUP BY e.user_id),
        |u AS (SELECT 1 AS step, 'signup' AS event_type, count(*) AS n_users FROM r1
        |      UNION ALL SELECT 2, 'click', count(*) FROM r2
        |      UNION ALL SELECT 3, 'purchase', count(*) FROM r3)
        |SELECT step, event_type, n_users,
        |       round(n_users / max(CASE WHEN step = 1 THEN n_users END) OVER (), 6) AS conversion
        |FROM u ORDER BY step""".stripMargin,

    "events_json_props" ->
      """SELECT event_type, count(*) AS n, min(k) AS min_k, max(k) AS max_k,
        |       CAST(sum(k) AS BIGINT) AS sum_k
        |FROM (SELECT event_type, CAST(json_extract(props, '$.k') AS INT) AS k FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "events_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
        |entered AS (SELECT user_id, min(CASE WHEN event_type = 'signup' THEN ms END) AS from_ms
        |            FROM e GROUP BY user_id HAVING from_ms IS NOT NULL),
        |conv AS (SELECT e.user_id, min(e.ms) AS to_ms
        |         FROM e JOIN entered USING (user_id)
        |         WHERE e.event_type = 'purchase'
        |           AND e.ms >= entered.from_ms AND e.ms <= entered.from_ms + 604800000
        |         GROUP BY e.user_id)
        |SELECT CAST(epoch_ms(entered.from_ms) AS DATE) AS cohort_day,
        |       count(*) AS n_users, count(conv.to_ms) AS n_converted,
        |       round(count(conv.to_ms) / count(*), 6) AS conversion
        |FROM entered LEFT JOIN conv USING (user_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // first touch replayed with a row_number window (the engine's partial
    // min(struct) and the window's rank-1 row agree under the (ms,
    // event_id) total order); conversion = toType STRICTLY after it
    "events_attribution" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms FROM events),
        |f AS (SELECT user_id, ms AS first_ms, event_type AS first_touch FROM
        |       (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ms, event_id) AS r
        |        FROM e) WHERE r = 1),
        |c AS (SELECT e.user_id, min(e.ms) AS conv_ms
        |      FROM e JOIN f USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.ms > f.first_ms
        |      GROUP BY e.user_id)
        |SELECT first_touch, count(*) AS n_users, count(conv_ms) AS n_converted,
        |       round(count(conv_ms) / count(*), 6) AS conversion
        |FROM f LEFT JOIN c USING (user_id)
        |GROUP BY first_touch ORDER BY first_touch""".stripMargin,

    // heavy-key report: BIGINT count products, stringified key tiebreak
    "events_key_skew" ->
      """WITH c AS (SELECT CAST(user_id AS VARCHAR) AS key_value,
        |             CAST(count(*) AS BIGINT) AS n_rows
        |           FROM events GROUP BY user_id),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n_keys, CAST(sum(n_rows) AS BIGINT) AS total FROM c),
        |r AS (SELECT *, row_number() OVER (ORDER BY n_rows DESC, key_value ASC) AS rank FROM c)
        |SELECT CAST(rank AS INT) AS rank, key_value, n_rows,
        |       round(n_rows / total, 6) AS share,
        |       round(n_rows * n_keys / total, 6) AS skew_factor
        |FROM r CROSS JOIN s WHERE rank <= 10 ORDER BY rank""".stripMargin,

    // consecutive-type trigrams via two leads over the same (ms, event_id)
    // user window; ties in the top-k rank break path-asc
    "events_paths" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms FROM events),
        |t AS (SELECT event_type || '>' || lead(event_type, 1) OVER w || '>' ||
        |             lead(event_type, 2) OVER w AS path,
        |             lead(event_type, 2) OVER w AS t3
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
        |c AS (SELECT path, CAST(count(*) AS BIGINT) AS n FROM t WHERE t3 IS NOT NULL GROUP BY path),
        |r AS (SELECT *, row_number() OVER (ORDER BY n DESC, path ASC) AS rank FROM c)
        |SELECT CAST(rank AS INT) AS rank, path, n FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin,

    // stub embedding = first 64 ASCII bytes as 0..255 floats (small ints —
    // float-exact), then the standard quantized-cosine top-k replay
    "pipeline_embed_ann" ->
      """WITH q AS (SELECT doc_id AS vec_id, i,
        |             CAST(CASE WHEN length(text) >= i THEN ascii(substr(text, CAST(i AS INT), 1))
        |                  ELSE 0 END * 10000 AS BIGINT) AS x
        |           FROM documents, range(1, 65) t(i)),
        |nrm AS (SELECT vec_id, CAST(sum(x * x) AS BIGINT) AS n FROM q GROUP BY vec_id),
        |dots AS (SELECT qq.vec_id AS query_id, qv.vec_id AS vec_id, CAST(sum(qq.x * qv.x) AS BIGINT) AS dot
        |         FROM q qq JOIN q qv ON qq.i = qv.i AND qq.vec_id < 10 AND qv.vec_id != qq.vec_id
        |         GROUP BY qq.vec_id, qv.vec_id),
        |scored AS (SELECT dots.query_id AS query_id, dots.vec_id AS vec_id,
        |             dot / (sqrt(CAST(nq.n AS DOUBLE)) * sqrt(CAST(nv.n AS DOUBLE))) AS cosine
        |           FROM dots JOIN nrm nq ON dots.query_id = nq.vec_id
        |                     JOIN nrm nv ON dots.vec_id = nv.vec_id),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
        |           FROM scored)
        |SELECT query_id, CAST(rank AS INT) AS rank, vec_id AS neighbor_id, round(cosine, 6) AS cosine
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // topic cards: the embed-stub quantized relation (pipeline_embed_ann's
    // q CTE), the proven argmax-assignment CTE (similarity_ivf's, ties to
    // the lower centroid id), then exact-integer c-TF-IDF — tf and
    // df_clusters are exact counts, the single ln + multiply replays
    // bit-identically (the BM25/CE log precedent), ranking ties (score
    // DESC, term ASC)
    "pipeline_topic_cards" ->
      """WITH q AS (SELECT doc_id AS vec_id, i,
        |             CAST(CASE WHEN length(text) >= i THEN ascii(substr(text, CAST(i AS INT), 1))
        |                  ELSE 0 END * 10000 AS BIGINT) AS x
        |           FROM documents, range(1, 65) t(i)),
        |nrm AS (SELECT vec_id, CAST(sum(x * x) AS BIGINT) AS n FROM q GROUP BY vec_id),
        |cdots AS (SELECT qv.vec_id, qc.vec_id AS cent_id, CAST(sum(qv.x * qc.x) AS BIGINT) AS dot
        |          FROM q qv JOIN q qc ON qv.i = qc.i AND qc.vec_id >= 100 AND qc.vec_id < 116
        |          GROUP BY qv.vec_id, qc.vec_id),
        |ccos AS (SELECT cdots.vec_id AS vec_id, cdots.cent_id AS cent_id,
        |           dot / (sqrt(CAST(nv.n AS DOUBLE)) * sqrt(CAST(nc.n AS DOUBLE))) AS ccos
        |         FROM cdots JOIN nrm nv ON cdots.vec_id = nv.vec_id
        |                    JOIN nrm nc ON cdots.cent_id = nc.vec_id),
        |assigned AS (SELECT vec_id AS doc_id, cent_id AS cluster_id FROM
        |             (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS r
        |              FROM ccos) WHERE r = 1),
        |toks AS (SELECT a.cluster_id AS cluster_id, unnest(string_split(d.text, ' ')) AS term
        |         FROM assigned a JOIN documents d ON d.doc_id = a.doc_id),
        |tf AS (SELECT cluster_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
        |dfc AS (SELECT term, CAST(count(*) AS BIGINT) AS df_clusters FROM tf GROUP BY term),
        |ncl AS (SELECT CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters FROM tf),
        |scored AS (SELECT tf.cluster_id AS cluster_id, tf.term AS term, tf.tf AS tf,
        |             dfc.df_clusters AS df_clusters,
        |             tf.tf * ln(CAST(ncl.n_clusters AS DOUBLE) / dfc.df_clusters) AS score_raw
        |           FROM tf JOIN dfc ON tf.term = dfc.term CROSS JOIN ncl),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY cluster_id ORDER BY score_raw DESC, term ASC) AS rank
        |           FROM scored)
        |SELECT cluster_id, CAST(rank AS INT) AS rank, term, tf, df_clusters,
        |       round(score_raw, 6) AS score
        |FROM ranked WHERE rank <= 5 ORDER BY cluster_id, rank""".stripMargin,

    // same md5-region buckets as the engine: integer value of hex digits
    // [1,4] (split) and [5,8] (sample) via exact bigint shifts
    "pipeline_split_sample" ->
      """WITH b AS (SELECT lang,
        |  CAST(list_sum(list_transform(range(0, 4), k ->
        |    CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), CAST(k AS INT) + 1, 1)) - 1 AS BIGINT)
        |      << CAST(4 * (3 - k) AS INT))) AS BIGINT) % 100 AS sb,
        |  CAST(list_sum(list_transform(range(0, 4), k ->
        |    CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), CAST(k AS INT) + 5, 1)) - 1 AS BIGINT)
        |      << CAST(4 * (3 - k) AS INT))) AS BIGINT) % 100 AS pb
        |FROM documents)
        |SELECT lang,
        |       CASE WHEN sb < 5 THEN 'val' WHEN sb < 10 THEN 'test' ELSE 'train' END AS split,
        |       count(*) AS n_docs,
        |       CAST(sum(CASE WHEN pb < 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // quantile-threshold brackets (never a global user rank); ties at the
    // threshold included; share = one IEEE division of exact counts
    "events_user_concentration" ->
      """WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
        |t AS (SELECT quantile_cont(n, 0.90) AS t90, quantile_cont(n, 0.95) AS t95,
        |             quantile_cont(n, 0.99) AS t99,
        |             CAST(sum(n) AS BIGINT) AS total_events, count(*) AS total_users FROM c),
        |b AS (
        |  SELECT CAST(0.90 AS DOUBLE) AS p, t90 AS threshold,
        |         (SELECT count(*) FROM c WHERE n >= t.t90) AS n_users,
        |         (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) FROM c WHERE n >= t.t90) AS n_events,
        |         total_users, total_events FROM t
        |  UNION ALL
        |  SELECT CAST(0.95 AS DOUBLE), t95,
        |         (SELECT count(*) FROM c WHERE n >= t.t95),
        |         (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) FROM c WHERE n >= t.t95),
        |         total_users, total_events FROM t
        |  UNION ALL
        |  SELECT CAST(0.99 AS DOUBLE), t99,
        |         (SELECT count(*) FROM c WHERE n >= t.t99),
        |         (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) FROM c WHERE n >= t.t99),
        |         total_users, total_events FROM t)
        |SELECT p, round(threshold, 6) AS threshold, n_users, n_events,
        |       total_users, total_events, round(n_events / total_events, 6) AS share
        |FROM b ORDER BY p""".stripMargin,

    // first-signup → first-later-purchase lag per signup-day cohort;
    // percentile ≡ quantile_cont (both linear interpolation over exact
    // BIGINT lags); mean = one IEEE division
    "events_conversion_lag" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
        |f AS (SELECT user_id, min(ms) AS from_ms FROM e
        |      WHERE event_type = 'signup' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(ms) AS to_ms, min(from_ms) AS from_ms
        |      FROM e JOIN f USING (user_id)
        |      WHERE event_type = 'purchase' AND ms > from_ms
        |      GROUP BY e.user_id)
        |SELECT CAST(epoch_ms(from_ms) AS DATE) AS cohort_day, count(*) AS n_users,
        |       round(quantile_cont(to_ms - from_ms, 0.5), 6) AS p50_ms,
        |       round(quantile_cont(to_ms - from_ms, 0.9), 6) AS p90_ms,
        |       round(sum(to_ms - from_ms) / count(*), 6) AS mean_ms
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    // same 30-min-gap session CTEs as events_sessionize; pairs from the
    // DISTINCT session-type incidence set; lift = one IEEE division of
    // exact BIGINT products
    "events_cooccurrence" ->
      """WITH l AS (SELECT user_id, event_id, ts, event_type,
        |             lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
        |           FROM events),
        |s AS (SELECT *, CASE WHEN prev_ms IS NULL OR epoch_ms(ts) - prev_ms > 1800000
        |                     THEN 1 ELSE 0 END AS new_session FROM l),
        |c AS (SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM s),
        |st AS (SELECT DISTINCT user_id, session_id, event_type FROM c),
        |tot AS (SELECT count(*) AS s_total FROM (SELECT DISTINCT user_id, session_id FROM st)),
        |tn AS (SELECT event_type, count(*) AS n FROM st GROUP BY 1),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_ab
        |      FROM st a JOIN st b ON a.user_id = b.user_id AND a.session_id = b.session_id
        |                         AND a.event_type < b.event_type
        |      GROUP BY 1, 2)
        |SELECT type_a, type_b, n_ab, na.n AS n_a, nb.n AS n_b,
        |       round(n_ab * s_total / (na.n * nb.n), 6) AS lift
        |FROM p JOIN tn na ON p.type_a = na.event_type
        |       JOIN tn nb ON p.type_b = nb.event_type CROSS JOIN tot
        |ORDER BY type_a, type_b""".stripMargin,

    // replays the per-session first-seen type cap exactly: row_number over
    // (first_ms, type) per session, rank <= 3; counts on the CAPPED space,
    // session total uncapped — the engine's shingle-cap rule
    "events_cooccurrence_capped" ->
      """WITH l AS (SELECT user_id, event_id, ts, event_type,
        |             lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
        |           FROM events),
        |s AS (SELECT *, CASE WHEN prev_ms IS NULL OR epoch_ms(ts) - prev_ms > 1800000
        |                     THEN 1 ELSE 0 END AS new_session FROM l),
        |c AS (SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM s),
        |st AS (SELECT user_id, session_id, event_type, min(epoch_ms(ts)) AS first_ms
        |       FROM c GROUP BY 1, 2, 3),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY user_id, session_id
        |                                    ORDER BY first_ms, event_type) AS rk FROM st),
        |cap AS (SELECT user_id, session_id, event_type FROM rk WHERE rk <= 3),
        |tot AS (SELECT count(*) AS s_total FROM (SELECT DISTINCT user_id, session_id FROM st)),
        |tn AS (SELECT event_type, count(*) AS n FROM cap GROUP BY 1),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_ab
        |      FROM cap a JOIN cap b ON a.user_id = b.user_id AND a.session_id = b.session_id
        |                           AND a.event_type < b.event_type
        |      GROUP BY 1, 2)
        |SELECT type_a, type_b, n_ab, na.n AS n_a, nb.n AS n_b,
        |       round(n_ab * s_total / (na.n * nb.n), 6) AS lift
        |FROM p JOIN tn na ON p.type_a = na.event_type
        |       JOIN tn nb ON p.type_b = nb.event_type CROSS JOIN tot
        |ORDER BY type_a, type_b""".stripMargin,

    // trailing-7-day WAU via a bounded 7-way unnest of the DISTINCT
    // user-day set (mirrors the engine's explode — never a range self-join)
    "events_dau_wau" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
        |con AS (SELECT DISTINCT user_id, day + CAST(o AS INT) AS day
        |        FROM ud CROSS JOIN (SELECT UNNEST(range(7)) AS o) os),
        |wau AS (SELECT day, count(*) AS wau FROM con GROUP BY day)
        |SELECT dau.day AS day, dau, wau, round(dau / wau, 6) AS stickiness
        |FROM dau JOIN wau USING (day) ORDER BY day""".stripMargin,

    // RANGE frame over integer epoch-days: calendar-correct rolling count;
    // both window functions share one (user_id) partition order
    "events_rolling_active" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |d AS (SELECT user_id, day,
        |        date_diff('day', DATE '1970-01-01', day) AS day_no FROM ud),
        |r AS (SELECT user_id, day, day_no,
        |        CAST(count(*) OVER (PARTITION BY user_id ORDER BY day_no
        |          RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS active_days_7d,
        |        CAST(day_no - coalesce(lag(day_no) OVER (PARTITION BY user_id ORDER BY day_no),
        |          day_no) AS BIGINT) AS gap_days
        |      FROM d)
        |SELECT user_id, day, active_days_7d, gap_days
        |FROM r ORDER BY user_id, day""".stripMargin,

    "events_retention" ->
      """WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |cohort AS (SELECT user_id, min(day) AS cohort_day FROM act GROUP BY user_id)
        |SELECT cohort.cohort_day AS cohort_day,
        |       CAST(date_diff('day', cohort.cohort_day, act.day) AS INT) AS day_offset,
        |       count(*) AS n_active
        |FROM act JOIN cohort USING (user_id)
        |WHERE date_diff('day', cohort.cohort_day, act.day) <= 7
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // events_approx_distinct: every deterministic column exact; the HLL
    // estimate itself is engine-specific, so what hashes is its ±10%
    // envelope flag (5 standard errors at rsd 0.02; sparse-mode-exact on
    // fixtures) — the constant-1 column the oracle asserts
    "events_approx_distinct" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |       CAST(1 AS INT) AS approx_within_10pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // sketch store: n_days/exact replayed exactly (trailing-7-day window
    // over daily-distinct user rows); the HLL estimate is DataSketches-
    // implementation-specific, so what hashes is the envelope flag
    "events_distinct_sketch_stored" ->
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |days AS (SELECT DISTINCT day FROM du)
        |SELECT d.day AS day, CAST(count(DISTINCT u.day) AS BIGINT) AS n_days,
        |       CAST(count(DISTINCT u.user_id) AS BIGINT) AS exact_users,
        |       CAST(1 AS INT) AS est_within_5pct
        |FROM days d JOIN du u
        |  ON u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
        |GROUP BY 1 ORDER BY day""".stripMargin,

    // ad-hoc range probe on the same store: one row, exact side replayed,
    // HLL estimate hashed through its 5% envelope flag
    "events_distinct_sketch_range" ->
      """SELECT CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |       CAST(1 AS INT) AS est_within_5pct
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-21'
        |""".stripMargin,

    // histogram store: EVERYTHING hash-matches — bin counts are an exact
    // ADD fold and the crossing-bin interpolation mirrors the engine's
    // operation order verbatim (one IEEE division per estimate)
    "events_quantile_hist_stored" ->
      """WITH h AS (SELECT CAST(ts AS DATE) AS day,
        |                  CAST(floor(value / 5.0) AS BIGINT) AS bin,
        |                  count(*) AS cnt
        |           FROM events GROUP BY 1, 2),
        |anchors AS (SELECT DISTINCT day AS anchor FROM h),
        |win AS (SELECT a.anchor, h.day, h.bin, h.cnt FROM h JOIN anchors a
        |        ON h.day BETWEEN a.anchor - INTERVAL 6 DAY AND a.anchor),
        |g AS (SELECT anchor, bin, CAST(SUM(cnt) AS BIGINT) AS cnt
        |      FROM win GROUP BY 1, 2),
        |c AS (SELECT anchor, bin, cnt,
        |        CAST(SUM(cnt) OVER (PARTITION BY anchor ORDER BY bin
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |        CAST(SUM(cnt) OVER (PARTITION BY anchor) AS BIGINT) AS n
        |      FROM g),
        |nd AS (SELECT anchor, count(DISTINCT day) AS n_days FROM win GROUP BY 1)
        |SELECT c.anchor AS day,
        |       CAST(max(nd.n_days) AS BIGINT) AS n_days,
        |       CAST(max(n) AS BIGINT) AS n,
        |       round(max(CASE WHEN cum - cnt < 0.5 * n AND 0.5 * n <= cum
        |         THEN bin * 5.0 + ((0.5 * n - (cum - cnt)) / cnt) * 5.0 END), 6) AS est_p50,
        |       round(max(CASE WHEN cum - cnt < 0.9 * n AND 0.9 * n <= cum
        |         THEN bin * 5.0 + ((0.9 * n - (cum - cnt)) / cnt) * 5.0 END), 6) AS est_p90,
        |       round(max(CASE WHEN cum - cnt < 0.99 * n AND 0.99 * n <= cum
        |         THEN bin * 5.0 + ((0.99 * n - (cum - cnt)) / cnt) * 5.0 END), 6) AS est_p99
        |FROM c JOIN nd ON c.anchor = nd.anchor
        |GROUP BY 1 ORDER BY day""".stripMargin,

    // ad-hoc range probe on the same store: one fully-exact row
    "events_quantile_hist_range" ->
      """WITH f AS (SELECT CAST(ts AS DATE) AS day,
        |                  CAST(floor(value / 5.0) AS BIGINT) AS bin
        |           FROM events
        |           WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-21'),
        |g AS (SELECT bin, count(*) AS cnt FROM f GROUP BY 1),
        |c AS (SELECT bin, cnt,
        |        CAST(SUM(cnt) OVER (ORDER BY bin
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |        CAST(SUM(cnt) OVER () AS BIGINT) AS n
        |      FROM g),
        |nd AS (SELECT count(DISTINCT day) AS n_days FROM f)
        |SELECT CAST(max(nd.n_days) AS BIGINT) AS n_days,
        |       CAST(max(n) AS BIGINT) AS n,
        |       round(max(CASE WHEN cum - cnt < 0.5 * n AND 0.5 * n <= cum
        |         THEN bin * 5.0 + ((0.5 * n - (cum - cnt)) / cnt) * 5.0 END), 6) AS est_p50,
        |       round(max(CASE WHEN cum - cnt < 0.9 * n AND 0.9 * n <= cum
        |         THEN bin * 5.0 + ((0.9 * n - (cum - cnt)) / cnt) * 5.0 END), 6) AS est_p90,
        |       round(max(CASE WHEN cum - cnt < 0.99 * n AND 0.99 * n <= cum
        |         THEN bin * 5.0 + ((0.99 * n - (cum - cnt)) / cnt) * 5.0 END), 6) AS est_p99
        |FROM c CROSS JOIN nd""".stripMargin,

    // drift monitor: the trailing p50 series lagged one day; the shift
    // is rounded BEFORE the flag compare on both engines
    "events_quantile_drift" ->
      """WITH h AS (SELECT CAST(ts AS DATE) AS day,
        |                  CAST(floor(value / 5.0) AS BIGINT) AS bin,
        |                  count(*) AS cnt
        |           FROM events GROUP BY 1, 2),
        |anchors AS (SELECT DISTINCT day AS anchor FROM h),
        |win AS (SELECT a.anchor, h.day, h.bin, h.cnt FROM h JOIN anchors a
        |        ON h.day BETWEEN a.anchor - INTERVAL 6 DAY AND a.anchor),
        |g AS (SELECT anchor, bin, CAST(SUM(cnt) AS BIGINT) AS cnt
        |      FROM win GROUP BY 1, 2),
        |c AS (SELECT anchor, bin, cnt,
        |        CAST(SUM(cnt) OVER (PARTITION BY anchor ORDER BY bin
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |        CAST(SUM(cnt) OVER (PARTITION BY anchor) AS BIGINT) AS n
        |      FROM g),
        |rep AS (SELECT anchor AS day,
        |          round(max(CASE WHEN cum - cnt < 0.5 * n AND 0.5 * n <= cum
        |            THEN bin * 5.0 + ((0.5 * n - (cum - cnt)) / cnt) * 5.0 END), 6) AS est_p50
        |        FROM c GROUP BY 1),
        |lagged AS (SELECT day, est_p50,
        |             lag(est_p50) OVER (ORDER BY day) AS prev_p50
        |           FROM rep),
        |shifted AS (SELECT day, est_p50, prev_p50,
        |              round(abs(est_p50 - prev_p50) / prev_p50, 6) AS shift
        |            FROM lagged WHERE prev_p50 IS NOT NULL)
        |SELECT day, est_p50, prev_p50, shift,
        |       CAST(shift > 0.05 AS INT) AS drifted
        |FROM shifted ORDER BY day""".stripMargin,

    // text_compress_ratio: byte_len exact per doc; deflate_len/ratio are
    // zlib-implementation-specific, so what hashes is the sanity flag
    // (non-empty, worst-case-envelope-bounded, ratio-consistent)
    "text_compress_ratio" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS byte_len,
        |       CAST(1 AS INT) AS ratio_sane
        |FROM documents ORDER BY doc_id""".stripMargin,

    // text is pure ASCII in the test corpus, so char-based substr equals
    // byte slicing and the frame md5s line up with Spark's binary substrings
    "multimodal_frames" ->
      """WITH f AS (
        |  SELECT doc_id, k.k AS frame_no, substr(text, k.k * 256 + 1, 256) AS frame
        |  FROM documents, (SELECT unnest(range(0, 64)) AS k) k
        |  WHERE k.k * 256 < strlen(text) AND k.k % 4 = 0)
        |SELECT doc_id, CAST(frame_no AS INT) AS frame_no,
        |       CAST(strlen(frame) AS INT) AS frame_bytes, md5(frame) AS frame_md5
        |FROM f ORDER BY doc_id, frame_no""".stripMargin,

    "pipeline_filter_dedup" ->
      """WITH q AS (
        |  SELECT doc_id,
        |    round(100e0 * len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' '))
        |      * least(1e0, len(string_split(text, ' ')) / 30e0), 6) AS quality_score
        |  FROM documents),
        |keepers AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(substr(text, 1, 80))) AS keeper
        |    FROM documents) WHERE doc_id = keeper)
        |SELECT q.doc_id AS doc_id, q.quality_score
        |FROM q JOIN keepers ON q.doc_id = keepers.doc_id
        |WHERE q.quality_score >= 50.0
        |ORDER BY doc_id""".stripMargin,

    // md5 over the UTF-8 payload bytes = DuckDB md5 of the VARCHAR; the
    // blob column never crosses the shuffle on the engine side
    "multimodal_dedup" ->
      """SELECT keeper_id, content_md5, n_copies, byte_len FROM (
        |  SELECT md5(text) AS content_md5, min(CAST(doc_id AS BIGINT)) AS keeper_id,
        |         CAST(count(*) AS BIGINT) AS n_copies,
        |         CAST(min(strlen(text)) AS BIGINT) AS byte_len
        |  FROM documents GROUP BY 1)
        |ORDER BY keeper_id""".stripMargin,

    // corpus-LM cross-entropy: ln of exact BIGINT-ratio doubles; the
    // per-doc sum is far inside round-6 tolerance
    "text_unigram_ce" ->
      """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |f AS (SELECT token, CAST(count(*) AS BIGINT) AS freq FROM tk GROUP BY token),
        |t AS (SELECT CAST(sum(freq) AS BIGINT) AS total FROM f)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |       round(-sum(ln(freq / total)) / count(*), 6) AS ce_nats
        |FROM tk JOIN f USING (token) CROSS JOIN t
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // same 30-min-gap session definition as events_sessionize; boundary
    // transitions dropped via the led new-session flag; p is one IEEE
    // division of exact counts
    "events_transitions" ->
      """WITH l AS (SELECT user_id, event_id, ts, event_type,
        |             lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
        |           FROM events),
        |s AS (SELECT *, CASE WHEN prev_ms IS NULL OR epoch_ms(ts) - prev_ms > 1800000
        |                     THEN 1 ELSE 0 END AS new_session FROM l),
        |n AS (SELECT event_type,
        |             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type,
        |             lead(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_new
        |      FROM s),
        |t AS (SELECT event_type AS from_event, next_type AS to_event,
        |             CAST(count(*) AS BIGINT) AS n
        |      FROM n WHERE next_type IS NOT NULL AND next_new = 0 GROUP BY 1, 2)
        |SELECT from_event, to_event, n,
        |       round(n / sum(n) OVER (PARTITION BY from_event), 6) AS p
        |FROM t ORDER BY from_event, to_event""".stripMargin,

    // same md5-region cohort hash as the engine (hex digits [1,4] of
    // md5(user_id) as an integer, % 100, < 50 -> A); metric = per-user
    // purchase count; moments are exact BIGINTs and mean/diff/z use the
    // SAME literal IEEE expression shapes (incl. the double-cast square)
    // so even the Welch z hash-matches
    "events_ab_lift" ->
      """WITH u AS (SELECT user_id,
        |             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS m
        |           FROM events GROUP BY user_id),
        |c AS (SELECT CASE WHEN CAST(list_sum(list_transform(range(0, 4), k ->
        |        CAST(strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), CAST(k AS INT) + 1, 1)) - 1 AS BIGINT)
        |          << CAST(4 * (3 - k) AS INT))) AS BIGINT) % 100 < 50
        |        THEN 'A' ELSE 'B' END AS cohort, m FROM u),
        |a AS (SELECT
        |        CAST(sum(CASE WHEN cohort = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |        CAST(sum(CASE WHEN cohort = 'A' THEN m ELSE 0 END) AS BIGINT) AS s_a,
        |        CAST(sum(CASE WHEN cohort = 'A' THEN m * m ELSE 0 END) AS BIGINT) AS ss_a,
        |        CAST(sum(CASE WHEN cohort = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |        CAST(sum(CASE WHEN cohort = 'B' THEN m ELSE 0 END) AS BIGINT) AS s_b,
        |        CAST(sum(CASE WHEN cohort = 'B' THEN m * m ELSE 0 END) AS BIGINT) AS ss_b
        |      FROM c)
        |SELECT n_a, s_a, round(s_a / n_a, 6) AS mean_a,
        |       n_b, s_b, round(s_b / n_b, 6) AS mean_b,
        |       round(s_b / n_b - s_a / n_a, 6) AS diff,
        |       CASE WHEN n_a > 1 AND n_b > 1
        |              AND (((ss_a - CAST(s_a AS DOUBLE) * s_a / n_a) / (n_a - 1)) / n_a
        |                   + ((ss_b - CAST(s_b AS DOUBLE) * s_b / n_b) / (n_b - 1)) / n_b) > 0
        |         THEN round((s_b / n_b - s_a / n_a)
        |                    / sqrt(((ss_a - CAST(s_a AS DOUBLE) * s_a / n_a) / (n_a - 1)) / n_a
        |                           + ((ss_b - CAST(s_b AS DOUBLE) * s_b / n_b) / (n_b - 1)) / n_b), 6)
        |       END AS z
        |FROM a""".stripMargin,

    // bigram-LM argmax head: totally-ordered context cut (count desc,
    // token asc) and successor rank — exact counts, one round-6 division
    "text_next_token" ->
      """WITH w AS (SELECT string_split(text, ' ') AS w FROM documents
        |           WHERE len(string_split(text, ' ')) >= 2),
        |bp AS (SELECT unnest(list_transform(range(1, len(w)), i ->
        |         struct_pack(prev := w[i], cur := w[i + 1]))) AS bg FROM w),
        |b AS (SELECT bg.prev AS prev, bg.cur AS cur FROM bp),
        |bgc AS (SELECT prev, cur, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY prev, cur),
        |top AS (SELECT prev, CAST(sum(n) AS BIGINT) AS ctx_total FROM bgc
        |        GROUP BY prev ORDER BY ctx_total DESC, prev ASC LIMIT 100),
        |r AS (SELECT bgc.prev AS prev, cur, n, ctx_total,
        |        row_number() OVER (PARTITION BY bgc.prev ORDER BY n DESC, cur ASC) AS rank
        |      FROM bgc JOIN top USING (prev))
        |SELECT prev, CAST(rank AS INT) AS rank, cur AS next_token, n, ctx_total,
        |       round(n / ctx_total, 6) AS p
        |FROM r WHERE rank <= 3 ORDER BY prev, rank""".stripMargin,

    // interpolated bigram LM: same ln-of-exact-ratio discipline as
    // text_unigram_ce; 0.75/0.25 are dyadic -> exact doubles both sides
    "text_bigram_ce" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |tk AS (SELECT doc_id, unnest(w) AS token FROM w),
        |uni AS (SELECT token, CAST(count(*) AS BIGINT) AS uf FROM tk GROUP BY token),
        |t AS (SELECT CAST(sum(uf) AS BIGINT) AS total FROM uni),
        |b AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), i ->
        |        struct_pack(prev := w[i], cur := w[i + 1]))) AS bg
        |      FROM w WHERE len(w) >= 2),
        |bp AS (SELECT doc_id, bg.prev AS prev, bg.cur AS cur FROM b),
        |bf AS (SELECT prev, cur, CAST(count(*) AS BIGINT) AS bf FROM bp GROUP BY prev, cur)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |       round(-sum(ln(0.75e0 * (bf.bf / cu.cf) + 0.25e0 * (cu2.uf / t.total)))
        |             / count(*), 6) AS ce_nats
        |FROM bp JOIN bf USING (prev, cur)
        |JOIN (SELECT token AS prev, uf AS cf FROM uni) cu USING (prev)
        |JOIN (SELECT token AS cur, uf FROM uni) cu2 USING (cur)
        |CROSS JOIN t
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // per-lang quality ntiles (both engines give earlier buckets the
    // remainder docs; (score, doc_id) is a total order)
    "pipeline_curriculum" ->
      """WITH q AS (SELECT doc_id, lang,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |             round(100e0 * len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' '))
        |               * least(1e0, len(string_split(text, ' ')) / 30e0), 6) AS quality_score
        |           FROM documents),
        |b AS (SELECT *, ntile(10) OVER (PARTITION BY lang ORDER BY quality_score ASC, doc_id ASC) AS bucket
        |      FROM q)
        |SELECT lang, CAST(bucket AS INT) AS bucket, count(*) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |       min(quality_score) AS min_score, max(quality_score) AS max_score,
        |       round(avg(quality_score), 6) AS avg_score
        |FROM b GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin,

    "multimodal_features" ->
      """SELECT doc_id, media_type, byte_len, content_md5,
        |  CAST(16 + byte_len % 241 AS INT) AS width,
        |  CAST(16 + (byte_len * 31) % 239 AS INT) AS height,
        |  CAST((byte_len + 255) // 256 AS INT) AS n_frames
        |FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id, 'image/fake' AS media_type,
        |             CAST(strlen(text) AS BIGINT) AS byte_len, md5(text) AS content_md5
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // the same deterministic PII derivation as the Spark side, then the
    // identical 4-stage scrub: each class counts on the previous stage's
    // text (patterns are the Java-regex/RE2 common subset — character
    // classes + counted repetition only)
    "pipeline_pii_scrub" ->
      """WITH p AS (SELECT doc_id, text ||
        |  CASE WHEN doc_id % 2 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com' ELSE '' END ||
        |  CASE WHEN doc_id % 3 = 0 THEN ' call (555) ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
        |       || '-' || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
        |  CASE WHEN doc_id % 5 = 0 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
        |       || '.0.' || CAST((doc_id * 3) % 256 AS VARCHAR) ELSE '' END ||
        |  CASE WHEN doc_id % 7 = 0 THEN ' ref ' || CAST(doc_id * 13 + 1000000 AS VARCHAR) ELSE '' END AS t0
        |FROM documents),
        |s AS (SELECT doc_id, t0,
        |  regexp_replace(t0, '[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z][a-z]+', '<EMAIL>', 'g') AS t1 FROM p),
        |s2 AS (SELECT *, regexp_replace(t1, '[(][0-9]{3}[)] [0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS t2 FROM s),
        |s3 AS (SELECT *, regexp_replace(t2, '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}', '<IP>', 'g') AS t3 FROM s2),
        |s4 AS (SELECT *, regexp_replace(t3, '[0-9]{6,}', '<ID>', 'g') AS t4 FROM s3)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t0, '[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z][a-z]+')) AS INT) AS n_email,
        |  CAST(len(regexp_extract_all(t1, '[(][0-9]{3}[)] [0-9]{3}-[0-9]{4}')) AS INT) AS n_phone,
        |  CAST(len(regexp_extract_all(t2, '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}')) AS INT) AS n_ip,
        |  CAST(len(regexp_extract_all(t3, '[0-9]{6,}')) AS INT) AS n_id,
        |  CAST(strlen(t4) AS INT) AS n_chars_scrubbed,
        |  md5(t4) AS scrub_md5,
        |  CAST(t4 != t0 AS INT) AS changed
        |FROM s4 ORDER BY doc_id""".stripMargin,

    // derived multi-line text (source banner / lang footer / conditional
    // shared + unique lines), then C4-style line-frequency removal at
    // minDf = 10: zipped unnest keeps line order, boilerplate set via
    // distinct-doc counts on the md5 digest, reassembly via ordered
    // string_agg; the left join keeps all-boilerplate docs alive
    "text_boilerplate" ->
      """WITH d AS (SELECT doc_id, concat_ws(chr(10),
        |    'nav home about ' || source, text,
        |    CASE WHEN doc_id % 4 = 0 THEN 'subscribe to the newsletter' END,
        |    CASE WHEN doc_id % 5 = 0 THEN 'doc note ' || CAST(doc_id AS VARCHAR) END,
        |    'copyright ' || lang || ' all rights reserved') AS t FROM documents),
        |ls AS (SELECT doc_id, string_split(t, chr(10)) AS a FROM d),
        |l AS (SELECT doc_id, CAST(unnest(range(1, len(a) + 1)) AS INT) AS line_no, unnest(a) AS line FROM ls),
        |boiler AS (SELECT md5(line) AS lh FROM l GROUP BY 1 HAVING count(DISTINCT doc_id) >= 10),
        |kept AS (SELECT * FROM l WHERE md5(line) NOT IN (SELECT lh FROM boiler)),
        |reb AS (SELECT doc_id, CAST(count(*) AS INT) AS n_kept,
        |          md5(string_agg(line, chr(10) ORDER BY line_no)) AS clean_md5
        |        FROM kept GROUP BY doc_id)
        |SELECT ls.doc_id AS doc_id, CAST(len(ls.a) AS INT) AS n_lines,
        |  CAST(coalesce(reb.n_kept, 0) AS INT) AS n_kept,
        |  CAST(len(ls.a) - coalesce(reb.n_kept, 0) AS INT) AS n_removed,
        |  coalesce(reb.clean_md5, md5('')) AS clean_md5
        |FROM ls LEFT JOIN reb ON ls.doc_id = reb.doc_id
        |ORDER BY doc_id""".stripMargin,

    // the text_boilerplate derived corpus split 6/7-historical /
    // 1/7-increment: historical line df on the 60-bit md5-prefix key (the
    // store's key — the oracle must replay the truncation), boilerplate at
    // df >= 10, increment docs reassembled; all-boilerplate docs survive
    // via the left join
    "text_boilerplate_stored" ->
      """WITH d AS (SELECT doc_id, concat_ws(chr(10),
        |    'nav home about ' || source, text,
        |    CASE WHEN doc_id % 4 = 0 THEN 'subscribe to the newsletter' END,
        |    CASE WHEN doc_id % 5 = 0 THEN 'doc note ' || CAST(doc_id AS VARCHAR) END,
        |    'copyright ' || lang || ' all rights reserved') AS t FROM documents),
        |ls AS (SELECT doc_id, string_split(t, chr(10)) AS a FROM d),
        |l AS (SELECT doc_id, CAST(unnest(range(1, len(a) + 1)) AS INT) AS line_no, unnest(a) AS line FROM ls),
        |lh AS (SELECT doc_id, line_no, line,
        |        CAST(list_sum(list_transform(range(0, 15), k ->
        |          CAST(strpos('0123456789abcdef', substr(md5(line), CAST(k AS INT) + 1, 1)) - 1 AS BIGINT)
        |            << CAST(4 * (14 - k) AS INT))) AS BIGINT) AS h FROM l),
        |boiler AS (SELECT h FROM lh WHERE doc_id % 7 != 0 GROUP BY h
        |           HAVING count(DISTINCT doc_id) >= 10),
        |kept AS (SELECT * FROM lh WHERE doc_id % 7 = 0 AND h NOT IN (SELECT h FROM boiler)),
        |reb AS (SELECT doc_id, CAST(count(*) AS INT) AS n_kept,
        |          md5(string_agg(line, chr(10) ORDER BY line_no)) AS clean_md5
        |        FROM kept GROUP BY doc_id)
        |SELECT ls.doc_id AS doc_id, CAST(len(ls.a) AS INT) AS n_lines,
        |  CAST(coalesce(reb.n_kept, 0) AS INT) AS n_kept,
        |  CAST(len(ls.a) - coalesce(reb.n_kept, 0) AS INT) AS n_removed,
        |  coalesce(reb.clean_md5, md5('')) AS clean_md5
        |FROM ls LEFT JOIN reb ON ls.doc_id = reb.doc_id
        |WHERE ls.doc_id % 7 = 0
        |ORDER BY doc_id""".stripMargin,

    // exact-integer lexical signals + one final IEEE division each; rule
    // verdicts compare the ROUNDED values so both engines gate identically
    "text_gopher_quality" ->
      """WITH g AS (SELECT doc_id, string_split(text, ' ') AS w,
        |  CAST(strlen(replace(text, ' ', '')) AS INT) AS sum_word_len FROM documents),
        |m AS (SELECT doc_id,
        |  CAST(len(w) AS INT) AS n_words, sum_word_len,
        |  CAST(list_max(list_transform(w, x -> strlen(x))) AS INT) AS max_word_len,
        |  round(sum_word_len / len(w), 6) AS mean_word_len,
        |  CAST(len(list_distinct(w)) AS INT) AS n_distinct,
        |  round(len(list_distinct(w)) / len(w), 6) AS distinct_ratio,
        |  CAST(len(list_filter(w, x -> x = 'a' OR x = 'the')) > 0 AS INT) AS has_stopword
        |FROM g)
        |SELECT doc_id, n_words, sum_word_len, max_word_len, mean_word_len,
        |  n_distinct, distinct_ratio, has_stopword,
        |  CAST(n_words >= 28 AND n_words <= 100000 AS INT) AS pass_word_count,
        |  CAST(mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS INT) AS pass_mean_len,
        |  has_stopword AS pass_stopword,
        |  CAST(distinct_ratio >= 0.5 AS INT) AS pass_distinct,
        |  CAST(n_words >= 28 AND n_words <= 100000 AS INT)
        |    * CAST(mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS INT)
        |    * has_stopword
        |    * CAST(distinct_ratio >= 0.5 AS INT) AS pass_all
        |FROM m ORDER BY doc_id""".stripMargin,

    // identical semantics to pipeline_decontaminate (the store holds the
    // complementary eval slice), so the oracle is the same query
    "pipeline_decontaminate_stored" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |         unnest(list_transform(range(1, len(w) - 3),
        |                i -> array_to_string(w[i:i+4], ' '))) AS shingle
        |       FROM toks WHERE len(w) >= 5),
        |h AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 15), k ->
        |        CAST(strpos('0123456789abcdef', substr(md5(shingle), CAST(k AS INT) + 1, 1)) - 1 AS BIGINT)
        |          << CAST(4 * (14 - k) AS INT))) AS BIGINT) AS shingle
        |      FROM sh),
        |sz AS (SELECT doc_id, CAST(count(*) AS INT) AS n_shingles FROM h GROUP BY doc_id),
        |hits AS (SELECT t.doc_id,
        |           count(DISTINCT t.shingle) AS n_shared,
        |           count(DISTINCT e.doc_id) AS n_eval_docs
        |         FROM h t JOIN h e ON t.shingle = e.shingle
        |         WHERE t.doc_id % 11 != 0 AND e.doc_id % 11 = 0
        |         GROUP BY t.doc_id)
        |SELECT hits.doc_id AS doc_id, sz.n_shingles, hits.n_shared, hits.n_eval_docs,
        |       round(hits.n_shared / sz.n_shingles, 6) AS contaminated_frac
        |FROM hits JOIN sz ON hits.doc_id = sz.doc_id
        |ORDER BY doc_id""".stripMargin,

    "pipeline_snapshot_diff" ->
      """WITH a AS (SELECT doc_id, md5(text) AS old_md5 FROM documents WHERE doc_id % 11 != 3),
        |b AS (SELECT doc_id,
        |        md5(CASE WHEN doc_id % 17 = 0 THEN text || ' rev2' ELSE text END) AS new_md5
        |      FROM documents WHERE doc_id % 13 != 5)
        |SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |  CASE WHEN a.old_md5 IS NULL THEN 'added'
        |       WHEN b.new_md5 IS NULL THEN 'removed'
        |       WHEN a.old_md5 != b.new_md5 THEN 'changed'
        |       ELSE 'unchanged' END AS status,
        |  a.old_md5 AS old_md5, b.new_md5 AS new_md5
        |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
        |ORDER BY doc_id""".stripMargin
  )
}
