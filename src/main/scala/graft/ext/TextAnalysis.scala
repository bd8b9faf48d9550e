package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM-data pipelines (SURVEY.md §2.8 E3):
  * quality scoring, token counting, document fingerprinting, and language
  * identification over the `documents` table.
  *
  * Scale discipline: every operator here is either a narrow per-row map
  * (quality/tokens/fingerprint — one codegen'd pass, no shuffle) or a
  * standard shuffle-on-key aggregation (langid), so all of them scale
  * linearly with input splits. No driver-side collects anywhere.
  *
  * Determinism discipline (for the DuckDB oracle): all scores are computed
  * as exact integer counts first; the only floating-point ops are final
  * divisions/roundings of those integers, which are IEEE-deterministic
  * given identical inputs — so Spark and DuckDB produce bit-identical
  * doubles.
  */
object TextAnalysis {

  /** The composite quality score as a column expression over `text` —
    * shared by the batch [[quality]] report and the streaming ingest gate
    * ([[graft.streaming.DocStreams.ingest]]): distinctness scaled by a
    * saturating length factor.
    * 1e0-style literals: Spark parses `1.0` as DECIMAL(2,1) and the whole
    * chain degrades to precision-lossy decimal math; `1e0` is DOUBLE in
    * both engines. */
  val qualityScoreExpr: String =
    """round(100e0 * size(array_distinct(split(text, ' '))) / size(split(text, ' '))
      |  * least(1e0, size(split(text, ' ')) / 30e0), 6)""".stripMargin

  /** Per-document quality metrics: length stats, type-token ratio,
    * stopword ratio, and a composite quality score. The shape mirrors
    * production quality filters (Gopher/C4-style length + repetition +
    * stopword heuristics) reduced to the signals the synthetic corpus
    * carries. One narrow projection — no shuffle. */
  def quality(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      expr("length(text)").as("n_chars"),
      expr("size(split(text, ' '))").as("n_words"),
      expr("size(array_distinct(split(text, ' ')))").as("n_distinct_words"),
      expr("size(filter(split(text, ' '), t -> t = 'a' OR t = 'the'))").as("n_stopwords"),
      expr("round(length(text) / size(split(text, ' ')), 6)").as("chars_per_word"),
      expr("round(size(array_distinct(split(text, ' '))) / size(split(text, ' ')), 6)").as("type_token_ratio"),
      expr("round(size(filter(split(text, ' '), t -> t = 'a' OR t = 'the')) / size(split(text, ' ')), 6)").as("stopword_ratio"),
      expr(qualityScoreExpr).as("quality_score"))
      .orderBy("doc_id")

  /** Token counting: whitespace tokens, BPE-ish regex tokens (letter runs /
    * digit runs / single punctuation — the shape of a byte-level BPE
    * pre-tokenizer), and distinct counts. Narrow map. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      expr("size(split(text, ' '))").as("ws_tokens"),
      expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))").as("bpe_tokens"),
      expr("size(array_distinct(split(text, ' ')))").as("distinct_tokens"),
      expr("round(length(text) / size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)), 6)")
        .as("chars_per_bpe_token"))
      .orderBy("doc_id")

  /** Per-language corpus length distribution — the corpus report card
    * (doc counts, char totals, exact p50/p90). `percentile` is Spark's
    * EXACT linear-interpolated quantile (index p·(n−1), (1−f)·a + f·b) —
    * the same definition as DuckDB's `quantile_cont`, and the inputs are
    * integers, so both engines evaluate the identical IEEE expression.
    * One partial-agg shuffle; exact percentile buffers the per-group
    * values, which is fine for per-LANGUAGE groups (few, bounded) — for
    * high-cardinality keys at 100 TB use approx_percentile instead
    * (sketch, engine-specific → rows-only check). */
  def lengthStats(docs: DataFrame): DataFrame =
    docs.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      min(col("n_chars")).as("min_chars"),
      max(col("n_chars")).as("max_chars"),
      sum(col("n_chars")).cast("long").as("sum_chars"),
      expr("round(percentile(n_chars, 0.5e0), 6)").as("p50_chars"),
      expr("round(percentile(n_chars, 0.9e0), 6)").as("p90_chars"))
      .orderBy("lang")

  /** Fixed-size token-window chunking with overlap — the context-window
    * prep staple of an LLM training pipeline: chunk k covers tokens
    * [k·stride+1, k·stride+size], so consecutive chunks overlap by
    * size−stride tokens and every token is covered (size > stride). Emits
    * (chunk_no, token count, content md5) rather than the chunk text so the
    * result stays narrow; chunk count per doc = ⌈n/stride⌉ (exact integer
    * arithmetic). One narrow map + explode — no shuffle at any scale. */
  def chunk(docs: DataFrame, size: Int = 32, stride: Int = 24): DataFrame = {
    require(size > stride && stride > 0, "need size > stride > 0 for full coverage")
    docs.select(col("doc_id"), expr("split(text, ' ')").as("w"))
      .select(col("doc_id"),
        posexplode(expr(
          s"""transform(sequence(0, CAST((size(w) + ${stride - 1}) div $stride AS INT) - 1),
             |  k -> slice(w, k * $stride + 1, $size))""".stripMargin))
          .as(Seq("chunk_no", "chunk")))
      .select(col("doc_id"), col("chunk_no").cast("int").as("chunk_no"),
        expr("CAST(size(chunk) AS INT)").as("n_tokens"),
        expr("md5(array_join(chunk, ' '))").as("chunk_md5"))
      .orderBy("doc_id", "chunk_no")
  }

  /** Gopher-style repetition signals — the other half of production quality
    * filtering (Rae et al. 2021 §A1.1): documents dominated by one repeated
    * token or phrase are boilerplate/spam. Per document:
    *
    *   - `dup_token_ratio`  = 1 − distinct/total tokens (duplicate fraction)
    *   - `top_token` / `top_token_count` / `top_token_ratio`  — the modal
    *     token (ties → lexicographically first) and its share of all tokens
    *   - `top_bigram` / `top_bigram_count` / `top_bigram_ratio`  — the modal
    *     word 2-gram and its share of all 2-grams
    *
    * Scale shape: explode → partial-agg count on (doc_id, gram) → per-doc
    * argmax window. Both aggregations and both windows are keyed by doc_id,
    * so everything after the explode stays in one hash-partitioning of the
    * corpus; counts combine map-side before the shuffle. All ratios are
    * exact-integer divisions rounded at the end (oracle-deterministic). */
  /** Modal element of a string array and its count, computed NARROWLY as a
    * run-length fold over the sorted array — no explode, no shuffle. The
    * fold tracks (current run, best run); strict `>` on the update keeps
    * the FIRST maximal run, which in ascending order is the
    * lexicographically smallest among ties — the same tie-break the
    * groupBy/argmax formulation (and the DuckDB oracle) uses. Spark HOF
    * lambdas cannot let-bind, so the run-length subexpression repeats (a
    * string equality + add — cheap).
    *
    * This SQL formulation is the oracle-portable reference; the engine
    * runs the value-identical native `modal_run` expression instead —
    * the nested HOF fold pays one boxed lambda struct per array element
    * (it was the slowest line of the r3 bench at 4.3 s), the compiled
    * run-length loop doesn't. [[graft.GraftFunctionsSpec]] asserts
    * expression-vs-SQL equality including tie/null cases. */
  private[graft] def modalExpr(arr: String): String =
    s"""aggregate(array_sort($arr),
       |  named_struct('prev', CAST(NULL AS STRING), 'run', CAST(0 AS BIGINT),
       |               'bestc', CAST(0 AS BIGINT), 'bestv', CAST(NULL AS STRING)),
       |  (acc, x) -> named_struct(
       |    'prev', x,
       |    'run', IF(x <=> acc.prev, acc.run + 1L, 1L),
       |    'bestc', IF(IF(x <=> acc.prev, acc.run + 1L, 1L) > acc.bestc,
       |                IF(x <=> acc.prev, acc.run + 1L, 1L), acc.bestc),
       |    'bestv', IF(IF(x <=> acc.prev, acc.run + 1L, 1L) > acc.bestc, x, acc.bestv)),
       |  acc -> named_struct('v', acc.bestv, 'c', acc.bestc))""".stripMargin

  def repetition(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.select(col("doc_id"), expr("split(text, ' ')").as("w"))
      // docs without a bigram (single token) are dropped, matching the
      // groupBy-formulation oracle's inner join against the bigram side
      .filter(expr("size(w) >= 2"))
      .select(col("doc_id"),
        expr("size(w)").as("n_tokens"),
        expr("size(array_distinct(w))").as("n_distinct"),
        expr("modal_run(w)").as("tk"),
        expr(
          "modal_run(transform(sequence(1, size(w) - 1), i -> concat(element_at(w, i), ' ', element_at(w, i + 1))))")
          .as("bg"))
      .select(col("doc_id"), col("n_tokens"),
        expr("round(1e0 - n_distinct / n_tokens, 6)").as("dup_token_ratio"),
        col("tk.v").as("top_token"), col("tk.c").as("top_token_count"),
        expr("round(tk.c / n_tokens, 6)").as("top_token_ratio"),
        col("bg.v").as("top_bigram"), col("bg.c").as("top_bigram_count"),
        expr("round(bg.c / (n_tokens - 1), 6)").as("top_bigram_ratio"))
      .orderBy("doc_id")
  }

  /** Document fingerprinting: a 31-ary rolling polynomial hash mod 1e9+7
    * over the character stream (the classic Rabin-Karp fingerprint) plus the
    * md5 content hash. Spark's split(text, '') emits a trailing "" (Java
    * split with limit -1) which DuckDB's does not — filtered on both sides.
    * Narrow map. */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      expr("md5(text)").as("fp_md5"),
      expr("""aggregate(filter(split(text, ''), c -> c <> ''),
             |  CAST(7 AS BIGINT),
             |  (acc, c) -> (acc * 31 + ascii(c)) % 1000000007)""".stripMargin).as("fp_rolling"))
      .orderBy("doc_id")

  /** Percentile-based quality pruning — "drop the worst decile PER
    * LANGUAGE": absolute quality thresholds mis-prune when score
    * distributions differ by language, so production filters cut on the
    * within-language rank instead. Exact `percent_rank` (ties share a
    * rank, so row order inside a tie is irrelevant — oracle-deterministic);
    * one shuffle on lang + in-partition sort. For high-cardinality strata
    * at 100 TB the same shape runs on (lang, shard) with per-shard
    * thresholds from `approx_percentile`. */
  def qualityPrune(docs: DataFrame, keepFrom: Double = 0.1): DataFrame =
    docs.select(col("doc_id"), col("lang"), expr(qualityScoreExpr).as("quality_score"))
      .withColumn("quality_pct", percent_rank().over(
        Window.partitionBy("lang").orderBy("quality_score")))
      .filter(col("quality_pct") >= keepFrom)
      .select(col("doc_id"), col("lang"), col("quality_score"),
        expr("round(quality_pct, 6)").as("quality_pct"))
      .orderBy("doc_id")

  /** One-row corpus report card — the dashboard numbers a corpus build
    * publishes per snapshot: doc/token totals, language/source coverage,
    * exact-dup pressure (groups with >1 docs on the content key, and how
    * many docs dedup would drop). Two partial-agg passes (global + content
    * key) joined as 1-row relations — every count is exact and the whole
    * thing is two shuffles regardless of corpus size. */
  def corpusStats(docs: DataFrame): DataFrame = {
    val global = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(expr("size(split(text, ' '))")).as("n_tokens"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"),
      sum(col("n_chars")).cast("long").as("n_chars"))
    val dups = docs.groupBy(expr("md5(substring(text, 1, 80))").as("k"))
      .agg(count(lit(1)).as("cnt"))
      .agg(sum(when(col("cnt") > 1, 1).otherwise(0)).cast("long").as("n_dup_groups"),
           sum(col("cnt") - 1).cast("long").as("n_dup_docs"))
    global.crossJoin(dups)
      .withColumn("mean_tokens", expr("round(n_tokens / n_docs, 6)"))
  }

  /** Compression-ratio quality signal (RefinedWeb/Gopher family): the
    * zlib-compressed size over the raw size. Repetitive boilerplate
    * compresses far below diverse prose, catching degenerate documents
    * that token-level ratios miss (e.g. long repeated PHRASES with a
    * diverse vocabulary). One narrow codegen'd pass (native `deflate_len`
    * expression — compiled loop, stays inside whole-stage codegen).
    *
    * No DuckDB oracle: the DEFLATE byte stream is zlib-implementation-
    * specific, so this entry takes the driver's rows-only check (like the
    * HLL sketch); the ordering properties are spec-asserted instead. */
  def compressRatio(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // octet_length, not length: deflate_len compresses UTF-8 BYTES, so the
    // ratio must be bytes-over-bytes or multibyte corpora overstate it
    docs.select(col("doc_id"),
      expr("CAST(octet_length(text) AS BIGINT)").as("byte_len"),
      expr("deflate_len(text)").as("deflate_len"),
      expr("round(deflate_len(text) / octet_length(text), 6)").as("compress_ratio"))
      .orderBy("doc_id")
  }

  /** [[compressRatio]]'s ORACLE-CHECKABLE projection: the deterministic
    * column (`byte_len`) verified exactly per doc, plus a sanity flag on
    * the engine-specific pair — `ratio_sane` = 1 iff the deflate output is
    * non-empty, within the DEFLATE worst-case envelope (stored-block
    * overhead is ≤ 5 bytes per 16 KiB plus a fixed header, so ≤ byte_len +
    * 64 for any input a fixture holds), and `compress_ratio` is internally
    * consistent with `deflate_len / byte_len`. The raw deflate byte count
    * is the documented exclusion (zlib's exact stream length is
    * implementation-specific); everything about it that is PORTABLE — that
    * it exists, is bounded, and the ratio is derived from it correctly —
    * hashes against the oracle's constant-1 column. Empty docs check only
    * the envelope (ratio is NULL by 0-division). */
  def compressRatioChecked(docs: DataFrame): DataFrame =
    compressRatio(docs)
      .select(col("doc_id"), col("byte_len"),
        when(expr(
          """deflate_len > 0 AND deflate_len <= byte_len + 64
            |AND (byte_len = 0 OR compress_ratio = round(deflate_len / byte_len, 6))""".stripMargin), 1)
          .otherwise(0).cast("int").as("ratio_sane"))
      .orderBy("doc_id")

  /** Winnowed fingerprint set as a column expression: positional (NOT
    * distinct) 60-bit 3-gram hashes, then the minimum of each `w`=4-window
    * of consecutive hashes, deduplicated and sorted. Guarantees of the
    * scheme (Schleimer et al., MOSS): any shared run of ≥ w+k-1 tokens
    * yields a shared selected print, while only ~2/(w+1) of all k-gram
    * hashes are kept. Tie handling is value-based (array_min), so the
    * SELECTED VALUE set — all we emit — is position-independent. */
  /** Stage 1 (SQL twin of the native path): positional 3-gram hashes from
    * the token array `w` — computed ONCE per row in its own projection.
    * Spark does not common-subexpression-eliminate inside nested HOF
    * lambdas, so inlining this under the window transform would re-run
    * every md5 per window. Kept as the oracle-shaped reference the
    * `winnow_prints` native expression is spec-asserted against
    * (ExtTextSpec) — the hot path runs the compiled loop. */
  private[graft] val posHashesExpr: String =
    """CASE WHEN size(w) >= 3 THEN
      |  transform(sequence(1, size(w) - 2), i ->
      |    CAST(conv(substring(md5(array_join(slice(w, i, 3), ' ')), 1, 15), 16, 10) AS BIGINT))
      |  ELSE CAST(array() AS ARRAY<BIGINT>) END""".stripMargin

  /** Stage 2 (SQL twin): winnow the precomputed hash array `hs` — min of
    * each 4-window (short docs: one window of everything), distinct
    * values, sorted. */
  private[graft] val printsExpr: String =
    """CASE WHEN size(hs) >= 1 THEN
      |  array_sort(array_distinct(transform(sequence(1, greatest(1, size(hs) - 3)),
      |    j -> array_min(slice(hs, j, 4)))))
      |  ELSE CAST(array() AS ARRAY<BIGINT>) END""".stripMargin

  /** Per-document winnowing fingerprint: selected-print count + a content
    * hash of the sorted print set (the compact form a fingerprint store
    * would index). One narrow codegen'd pass — no shuffle; the per-row
    * hash-and-window fold is the `winnow_prints` NATIVE expression (one
    * compiled loop — the HOF twin re-evaluated a boxed slice/array_min
    * lambda pair per window and was the heaviest sf10 soak line at 19 s). */
  def winnow(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.select(col("doc_id"), expr("winnow_prints(text, 3, 4)").as("prints"))
      .select(col("doc_id"),
        expr("CAST(size(prints) AS INT)").as("n_prints"),
        expr("md5(array_join(transform(prints, p -> CAST(p AS STRING)), ','))").as("prints_md5"))
      .orderBy("doc_id")
  }

  /** Documents sharing ≥ `minShared` winnowed prints — near-dup/plagiarism
    * candidates at a fraction of the full-shingle index cost (winnowing
    * keeps ~2/(w+1) of the k-grams). Same inverted-index discipline as
    * [[Dedup.ngramJaccard]]: hot prints above the document-frequency cap
    * are dropped from the print space before the self-join (min-selection
    * biases toward small hash values, so a popular low-hash 3-gram would
    * otherwise be a quadratic bucket at scale). */
  def winnowPairs(docs: DataFrame, minShared: Int = 8, maxDocFreq: Int = 50): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val w = Window.partitionBy("print")
    val idx = Dedup.spread(docs)
      .select(col("doc_id"), explode(expr("winnow_prints(text, 3, 4)")).as("print"))
      .withColumn("df", count(lit(1)).over(w))
      .filter(col("df") <= maxDocFreq)
      .select("doc_id", "print")
    idx.toDF("a", "print")
      .join(idx.toDF("b", "print"), "print")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy("a", "b")
  }

  /** INCREMENTAL winnow-pair detection — [[winnowPairs]]'s daily shape:
    * which INCOMING docs share ≥ `minShared` winnowed prints with the
    * HISTORICAL corpus, and with which historical docs. The df cap is
    * computed over the HISTORICAL print rows only (the
    * boilerplate-against-store convention: history decides what is hot),
    * and n_shared counts print-row matches with multiplicity, exactly as
    * [[winnowPairs]]' inverted-index join does. One oracle covers this
    * and the stored twin [[winnowAgainstStore]]. */
  def winnowIncremental(docs: DataFrame, minShared: Int = 8,
                        maxDocFreq: Int = 50, mod: Int = 7): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val idx = Dedup.spread(docs)
      .select(col("doc_id"), explode(expr("winnow_prints(text, 3, 4)")).as("print"))
    winnowCrossPairs(
      idx.filter(col("doc_id") % mod === 0).toDF("inc_id", "print"),
      idx.filter(col("doc_id") % mod =!= 0).toDF("hist_id", "print"),
      minShared, maxDocFreq)
  }

  /** WINNOW PRINT STORE — the incremental index for the plagiarism/clone
    * monitor (9th stored index, closing the last pair-generating family
    * without one): the historical corpus's winnowed prints persist as
    * (print, hist_id) rows range-clustered on the 8-byte print, so a
    * daily increment probes by equi-join with file pruning and the
    * historical TEXT is never rescanned. Rows keep print MULTIPLICITY on
    * purpose — n_shared counts cross-matches exactly like
    * [[winnowPairs]], so the store is the exploded relation itself, not
    * a distinct projection (the one deliberate deviation from the
    * paragraph store's DISTINCT discipline, and the oracle replays it). */
  def buildWinnowStore(hist: DataFrame, storeDir: String,
                       numFiles: Int = 8): Unit =
    graft.ops.StoreLifecycle.publish(storeDir)(tmp =>
      writeWinnowStore(hist, tmp, mode = "overwrite", numFiles))

  /** O(increment) append: print only the increment, land it as its own
    * range-clustered file set (existing files untouched, per-batch tight
    * key ranges keep probe pruning working); compact with
    * [[compactWinnowStore]] when batches pile up. */
  def appendToWinnowStore(increment: DataFrame, storeDir: String,
                          numFiles: Int = 1): Unit =
    graft.ops.StoreLifecycle.withWriterLock(storeDir)(
      writeWinnowStore(increment, storeDir, mode = "append", numFiles))

  /** Store compaction — the family's side-directory + atomic-rename
    * discipline; pure layout, the probe relation is untouched. */
  def compactWinnowStore(spark: SparkSession, storeDir: String,
                         numFiles: Int = 8): Unit =
    graft.ops.StoreLifecycle.publish(storeDir)(tmp =>
      graft.ops.Scale.clusteredParquet(
        spark.read.parquet(s"$storeDir/prints"), s"$tmp/prints",
        Seq("print"), numFiles))

  /** [[winnowIncremental]] against the PRECOMPUTED print store: the run
    * pays the increment's native winnowing pass plus one file-pruned
    * equi-join — the only documents scan in the plan is the incoming
    * side's (plan-locked). The df cap evaluates on the FETCHED store rows,
    * which is exact: a probed print's store rows are fetched completely,
    * and unprobed prints can produce no pairs. */
  def winnowAgainstStore(incoming: DataFrame, storeDir: String,
                         minShared: Int = 8, maxDocFreq: Int = 50): DataFrame = {
    val spark = incoming.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val incIdx = Dedup.spread(incoming)
      .select(col("doc_id"), explode(expr("winnow_prints(text, 3, 4)")).as("print"))
      .toDF("inc_id", "print")
    val probeKeys = incIdx.select("print").distinct()
    val histRows = spark.read.parquet(s"$storeDir/prints")
      .join(probeKeys, "print")
      .select(col("hist_id"), col("print"))
    winnowCrossPairs(incIdx, histRows, minShared, maxDocFreq)
  }

  /** The shared cross-side pair kernel: historical-df cap, then the
    * inverted-index join counting matches with multiplicity. */
  private def winnowCrossPairs(incIdx: DataFrame, histRows: DataFrame,
                               minShared: Int, maxDocFreq: Int): DataFrame = {
    val keep = histRows.groupBy("print")
      .agg(count(lit(1)).as("df_hist"))
      .filter(col("df_hist") <= maxDocFreq)
      .select("print")
    incIdx.join(histRows.join(keep, "print"), "print")
      .groupBy("inc_id", "hist_id")
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy("inc_id", "hist_id")
  }

  private def writeWinnowStore(docs: DataFrame, storeDir: String,
                               mode: String, numFiles: Int): Unit = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    graft.ops.Scale.clusteredParquet(
      Dedup.spread(docs)
        .select(col("doc_id").as("hist_id"),
          explode(expr("winnow_prints(text, 3, 4)")).as("print"))
        .select("print", "hist_id"),
      s"$storeDir/prints", Seq("print"), numFiles, mode)
  }

  /** Text NORMALIZATION fingerprint — the canonicalization pass that runs
    * before exact dedup in a crawl pipeline (casefold, strip non-alnum,
    * collapse whitespace): emits the normalized form's md5 plus before/
    * after lengths and a changed flag, so a downstream exact-dedup on
    * `norm_md5` collapses case/punctuation variants the raw prefix key
    * misses. One narrow codegen'd pass — no shuffle; the per-row
    * canonicalization is the `normalize_text` NATIVE expression (one
    * compiled loop — the two-regex-pass twin below was 31.9 s at the sf10
    * soak). The character class is deliberately regex-dialect-neutral
    * ([^a-z0-9 ] means the same in Java and RE2/DuckDB); the SQL twin
    * stays as the oracle-shaped reference, spec-asserted equal. */
  val normalizeSqlExpr: String =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ''), ' +', ' '))"

  def normalize(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.select(col("doc_id"), col("text"))
      .withColumn("norm", expr("normalize_text(text)"))
      .select(col("doc_id"),
        expr("length(text)").as("n_chars"),
        expr("length(norm)").as("n_chars_norm"),
        expr("md5(norm)").as("norm_md5"),
        expr("CAST(text != norm AS INT)").as("changed"))
      .orderBy("doc_id")
  }

  /** Per-document BIGRAM NOVELTY — the corpus-relative template detector:
    * of a doc's distinct bigrams, the fraction appearing in NO other
    * document (corpus bigram document-frequency = 1). Boilerplate and
    * templated docs share most of their bigrams with siblings → ratio near
    * 0; original prose → near 1. Complements [[repetition]] (which only
    * sees WITHIN-doc structure) and [[compressRatio]] — this is the
    * cross-doc signal. Docs with <2 tokens emit no row (no bigrams), same
    * as the oracle's inner join.
    *
    * Scale shape: distinct bigrams per doc (narrow), one bigram partial-agg
    * shuffle for the DF table, a co-partitioned join back (both sides
    * hash-partitioned on bigram), one doc_id partial-agg — bounded by
    * corpus bigram volume, no pair enumeration anywhere. */
  def novelty(docs: DataFrame): DataFrame = {
    val bg = Dedup.spread(docs)
      .select(col("doc_id"), expr("split(text, ' ')").as("w"))
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(w) >= 2 THEN
          |  array_distinct(transform(sequence(1, size(w) - 1),
          |    i -> concat(element_at(w, i), ' ', element_at(w, i + 1))))
          |ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin)).as("bigram"))
    val dfc = bg.groupBy("bigram").agg(count(lit(1)).as("dfreq"))
    bg.join(dfc, "bigram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("dfreq") === 1, 1L).otherwise(0L)).as("n_unique"))
      .withColumn("novelty_ratio", expr("round(n_unique / n_bigrams, 6)"))
      .orderBy("doc_id")
  }

  /** Top-k continuation table for the corpus's hottest contexts — the
    * bigram-LM ARGMAX artifact (the draft table a speculative decoder or
    * an autocomplete surface consumes: for each frequent token, its k most
    * likely successors with probabilities). The model side of [[bigramCE]]
    * (which SCORES docs under the LM; this emits the LM's head).
    *
    * Determinism: contexts are the `topContexts` tokens by
    * (continuation-count DESC, token ASC) — a total order, so the boundary
    * tie is pinned; successor rank is (count DESC, token ASC), same
    * discipline. Counts are exact BIGINT; `p` is the one IEEE division,
    * round-6 on both engines.
    *
    * Scale shape: ONE corpus-wide (prev, cur) partial-agg shuffle builds
    * the bigram counts; context totals are a second partial agg over that
    * already-aggregated relation (vocabulary-sized, not corpus-sized); the
    * top-context cut is orderBy+limit (TakeOrderedAndProject — per-
    * partition heaps, no global sort) and BROADCASTS back, so the rank
    * window only ever sees the ≤ topContexts·|successors-of-hot-tokens|
    * joined rows — never the full bigram table through one partition. */
  def nextToken(docs: DataFrame, topContexts: Int = 100, k: Int = 3): DataFrame = {
    require(topContexts > 0 && k > 0)
    val bg = Dedup.spread(docs)
      .select(expr("split(text, ' ')").as("w"))
      .filter(expr("size(w) >= 2"))
      .select(explode(expr(
        """transform(sequence(1, size(w) - 1),
          |  i -> struct(element_at(w, i) AS prev, element_at(w, i + 1) AS cur))""".stripMargin))
        .as("b"))
      .select(col("b.prev").as("prev"), col("b.cur").as("cur"))
    val bgc = bg.groupBy("prev", "cur").agg(count(lit(1)).as("n"))
    val topCtx = bgc.groupBy("prev").agg(sum("n").cast("long").as("ctx_total"))
      .orderBy(col("ctx_total").desc, col("prev").asc).limit(topContexts)
    val wk = Window.partitionBy("prev").orderBy(col("n").desc, col("cur").asc)
    bgc.join(broadcast(topCtx), "prev")
      .withColumn("rank", row_number().over(wk))
      .filter(col("rank") <= k)
      .select(col("prev"), col("rank").cast("int").as("rank"),
        col("cur").as("next_token"), col("n"), col("ctx_total"),
        expr("round(n / ctx_total, 6)").as("p"))
      .orderBy("prev", "rank")
  }

  /** Per-document CROSS-ENTROPY under the corpus's own unigram LM — the
    * perplexity-style quality signal (CCNet/Gopher-shape, with the corpus
    * itself as the model since no external LM ships here): for each doc,
    * −mean over its tokens of ln P(token), P = corpus frequency / total
    * tokens. Low CE = made of common words (boilerplate-ish); high CE =
    * rare-token-heavy (jargon, noise, or genuinely novel text). Every
    * token is in-vocab by construction (the LM is fit on the same corpus).
    *
    * Determinism: the ln arguments are exact BIGINT-ratio doubles,
    * identical in both engines; the per-doc double sum is ≤ a few hundred
    * terms, orders of magnitude inside the round-6 tolerance.
    *
    * Scale shape: one (token) partial-agg shuffle fits the LM, the
    * frequency table joins back co-partitioned on token (both sides hash
    * — no corpus re-shuffle beyond it), the 1-row total broadcasts, and
    * the per-doc agg is the only other shuffle. Never a pair join. */
  def unigramCE(docs: DataFrame): DataFrame = {
    val toks = Dedup.spread(docs)
      .select(col("doc_id"), explode(expr("split(text, ' ')")).as("token"))
    val freq = toks.groupBy("token").agg(count(lit(1)).as("freq"))
    val total = freq.agg(sum("freq").cast("long").as("total"))
    toks.join(freq, "token").crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(expr("ln(freq / total)")).as("s"))
      .select(col("doc_id"), col("n_tokens"),
        expr("round(-s / n_tokens, 6)").as("ce_nats"))
      .orderBy("doc_id")
  }

  /** Interpolated BIGRAM cross-entropy per document — the CCNet-style
    * LM-perplexity quality filter one rung above [[unigramCE]]: each
    * in-doc bigram scores `λ·P(cur|prev) + (1−λ)·P(cur)` against the
    * corpus-wide bigram/unigram tables (λ = 0.75, the classic
    * interpolation that keeps unseen-context scores finite), and the doc
    * reports the mean negative log. Template/boilerplate docs score LOW
    * (their bigrams dominate the corpus LM); out-of-distribution docs
    * score high — both tails are prune candidates.
    *
    * Scale shape: bigrams assemble ARRAY-SIDE in a narrow pass (one
    * struct array per doc — no window, no per-doc shuffle) before
    * exploding into the (prev,cur) partial agg; the count tables join
    * back co-partitioned on their keys (vocab-bounded here, shuffle-keyed
    * at open vocab); the one-row total broadcasts. Probabilities are
    * IEEE-exact ratios of BIGINTs combined in a fixed expression shape —
    * the per-doc ln-sum sits far inside round-6, the [[unigramCE]]
    * precedent. */
  def bigramCE(docs: DataFrame, lambda: Double = 0.75): DataFrame = {
    val lam = s"${lambda}e0"
    val lam1 = s"${1 - lambda}e0"
    val w = Dedup.spread(docs).select(col("doc_id"), expr("split(text, ' ')").as("w"))
    val toks = w.select(col("doc_id"), explode(col("w")).as("token"))
    // r15 NOTE: materializing `uni`/`big` was tried and REJECTED by in-run
    // A/B (min 2.50 s vs 2.25 s at sf0.1): each aggregate over them fuses
    // explode+partial-agg into one codegen stage, so lazy re-scans beat
    // the checkpoint barrier.
    val uni = toks.groupBy("token").agg(count(lit(1)).as("uf"))
    val total = uni.agg(sum("uf").cast("long").as("total"))
    val big = w.filter(expr("size(w) >= 2"))
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(w) - 1), i ->
          |  struct(element_at(w, i) AS prev, element_at(w, i + 1) AS cur))""".stripMargin))
        .as("bg"))
      .select(col("doc_id"), col("bg.prev").as("prev"), col("bg.cur").as("cur"))
    val bf = big.groupBy("prev", "cur").agg(count(lit(1)).as("bf"))
    big.join(bf, Seq("prev", "cur"))
      .join(uni.select(col("token").as("prev"), col("uf").as("cf")), "prev")
      .join(uni.select(col("token").as("cur"), col("uf").as("uf")), "cur")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(expr(s"ln($lam * (bf / cf) + $lam1 * (uf / total))")).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("round(-s / n_bigrams, 6)").as("ce_nats"))
      .orderBy("doc_id")
  }

  /** One BPE-TRAINING merge round — the inner loop of byte-pair-encoding
    * tokenizer training: count every ADJACENT token pair across the corpus
    * and emit the top-K merge candidates with exact counts and corpus
    * share (the argmax pair becomes the next merge rule; ties → lhs, rhs
    * asc so the rule order is deterministic). The pair-unit twin of
    * [[vocab]] — together they are the tables a tokenizer build iterates.
    *
    * Scale shape: pairs assemble ARRAY-SIDE in one narrow pass (text is
    * split ONCE into `w` — Spark does not CSE inside HOF lambdas, so a
    * per-element re-split would be quadratic), then one (lhs, rhs)
    * partial-agg shuffle bounded by the pair vocabulary, a
    * TakeOrderedAndProject heap for top-K, the K-row rank window on the
    * non-foldable constant key, and a 1-row total broadcast. */
  def bpeMerges(docs: DataFrame, topK: Int = 50): DataFrame = {
    val w = Dedup.spread(docs).select(expr("split(text, ' ')").as("w"))
    val counts = w.filter(expr("size(w) >= 2"))
      .select(explode(expr(
        """transform(sequence(1, size(w) - 1), i ->
          |  struct(element_at(w, i) AS lhs, element_at(w, i + 1) AS rhs))""".stripMargin))
        .as("p"))
      .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
      .agg(count(lit(1)).as("n"))
    val total = counts.agg(sum("n").cast("long").as("total"))
    val top = counts.orderBy(col("n").desc, col("lhs").asc, col("rhs").asc).limit(topK)
      .withColumn("__one", graft.ops.Scale.constKey(col("n")))
    top.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(
        Window.partitionBy("__one").orderBy(col("n").desc, col("lhs").asc, col("rhs").asc)))
      .select(col("rank").cast("int").as("rank"), col("lhs"), col("rhs"), col("n"),
        expr("round(n / total, 6)").as("share"))
      .orderBy("rank")
  }

  /** Tokenizer ENCODE — applying the [[bpeMerges]] rules completes the
    * learn→encode tokenizer story: each document's word sequence is
    * greedily merged rule-by-rule in rank order (rule k's pass replaces
    * every leftmost non-overlapping adjacent (lhs, rhs) with the fused
    * symbol — the classic BPE apply loop, here at word level to match the
    * word-level learner). Emits per doc the pre/post symbol counts, the
    * merge count, and the md5 of the encoded sequence — the full encoding
    * is hash-verified without shipping a second text column.
    *
    * Rule handling is the PQ-codebook bounded-collect discipline: the
    * K-row learned rule table (K ≤ `topK`, tiny by construction) folds to
    * literal arrays once per PLAN, and the encode runs as the native
    * compiled `bpe_encode_syms` expression — one primitive loop per rule
    * instead of K·len interpreted lambda frames per document (the nested
    * aggregate() HOF twin below measured 26.9 s at 50k docs; the native
    * pass is the same cut winnow_prints/pq_codes took). The oracle
    * replays the same greedy fold as a recursive CTE over rule ranks
    * with a list_reduce inner pass, so the md5 hash-match checks every
    * merge decision on every document; [[bpeEncodeSql]] is the
    * value-identical HOF reference the spec asserts the native
    * expression against.
    *
    * Determinism: rule order is the bpeMerges total order (n DESC, lhs,
    * rhs); the fold is leftmost-greedy by construction (an accumulator
    * scan, not a regex); merged symbols join lhs and rhs with the
    * non-token unit separator chr(31) ([[graft.functions.MinHashOps.FuseSep]]),
    * and rules only ever name RAW words, so a fused symbol can never
    * chain-merge on any whitespace-tokenized corpus (with the old '_'
    * joiner an underscore-bearing vocabulary could alias a fused symbol
    * — spec'd in ExtTextSpec) — identical in both engines. */
  def bpeEncode(docs: DataFrame, topK: Int = 50): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val ruleRows = bpeMerges(docs, topK).select("rank", "lhs", "rhs").collect()
      .sortBy(_.getInt(0))
    def arrLit(xs: Array[String]) =
      xs.map(s => "'" + s.replace("'", "''") + "'").mkString("array(", ",", ")")
    val rulesLit =
      if (ruleRows.isEmpty) "array(CAST(array() AS ARRAY<STRING>), CAST(array() AS ARRAY<STRING>))"
      else s"array(${arrLit(ruleRows.map(_.getString(1)))}, ${arrLit(ruleRows.map(_.getString(2)))})"
    Dedup.spread(docs)
      .withColumn("syms", split(col("text"), " "))
      .withColumn("enc", expr(s"bpe_encode_syms(text, $rulesLit)"))
      .select(col("doc_id"),
        expr("CAST(size(syms) AS BIGINT)").as("n_words"),
        expr("CAST(size(enc) AS BIGINT)").as("n_symbols"),
        expr("CAST(size(syms) - size(enc) AS BIGINT)").as("n_merges"),
        expr("md5(array_join(enc, ' '))").as("encoded_md5"))
      .orderBy("doc_id")
  }

  /** The nested-HOF twin of the native `bpe_encode_syms` pass — kept ONLY
    * as the value-identical reference the spec asserts the compiled
    * expression against (the oracle-shaped formulation; 26.9 s at 50k
    * docs vs the native loop, so never the production path). */
  private[graft] def bpeEncodeSql(docs: DataFrame, topK: Int = 50): DataFrame = {
    val rules = bpeMerges(docs, topK)
      .agg(expr("sort_array(collect_list(struct(rank, lhs, rhs)))").as("rules"))
    Dedup.spread(docs).crossJoin(broadcast(rules))
      .withColumn("syms", split(col("text"), " "))
      .withColumn("enc", expr(
        """aggregate(rules, syms, (s, ru) ->
          |  aggregate(slice(s, 2, size(s) - 1), slice(s, 1, 1), (acc, x) ->
          |    IF(x = ru.rhs AND element_at(acc, -1) = ru.lhs,
          |       concat(slice(acc, 1, size(acc) - 1), array(concat(ru.lhs, char(31), ru.rhs))),
          |       concat(acc, array(x)))))""".stripMargin))
      .select(col("doc_id"),
        expr("CAST(size(syms) AS BIGINT)").as("n_words"),
        expr("CAST(size(enc) AS BIGINT)").as("n_symbols"),
        expr("CAST(size(syms) - size(enc) AS BIGINT)").as("n_merges"),
        expr("md5(array_join(enc, ' '))").as("encoded_md5"))
      .orderBy("doc_id")
  }

  /** VOCABULARY COVERAGE curve — the OOV audit a tokenizer/vocab decision
    * reads: for each candidate vocab size k, the fraction of ALL corpus
    * token occurrences covered by the top-k tokens (by frequency, ties →
    * token asc). A flat curve past small k says a tiny vocab suffices; a
    * long tail says byte/char fallback will fire constantly. Reported
    * next to [[vocab]]'s head list and [[zipf]]'s slope.
    *
    * Scale shape: one (token) partial-agg shuffle collapses the corpus to
    * its vocabulary; the top-max(k) cut is a TakeOrderedAndProject heap
    * (the zipf discipline — NEVER a rank window over the full
    * vocabulary), the rank window sees only the K-row survivor relation,
    * the per-k sums are conditional aggregates over those K rows, and
    * corpus totals are a 1-row broadcast. Output = |ks| rows.
    *
    * Determinism: counts and the rank total order exact; coverage is one
    * IEEE division of exact BIGINTs rounded to 6. */
  def vocabCoverage(docs: DataFrame, ks: Seq[Int] = Seq(10, 100, 1000)): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1))
    val counts = Dedup.spread(docs)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum("cnt").cast("long").as("total_tokens"),
      count(lit(1)).cast("long").as("vocab_size"))
    val top = counts.orderBy(col("cnt").desc, col("tok").asc).limit(ks.max)
      .withColumn("__one", graft.ops.Scale.constKey(col("cnt")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("__one").orderBy(col("cnt").desc, col("tok").asc)))
    val kCols = ks.map(k =>
      coalesce(sum(when(col("rank") <= k, col("cnt"))), lit(0L)).cast("long").as(s"c$k"))
    val sums = top.agg(kCols.head, kCols.tail: _*)
    sums.crossJoin(broadcast(total))
      .selectExpr(
        s"stack(${ks.length}, ${ks.map(k => s"$k, c$k").mkString(", ")}) AS (k, covered_tokens)",
        "total_tokens", "vocab_size")
      .withColumn("k", col("k").cast("int"))
      .withColumn("coverage", expr("round(covered_tokens / total_tokens, 6)"))
      .select(col("k"), col("covered_tokens"), col("total_tokens"),
        col("vocab_size"), col("coverage"))
      .orderBy("k")
  }

  /** CURRICULUM bucketing — the ordering step of curriculum training:
    * within each language, documents ranked by the composite quality
    * score ([[qualityScoreExpr]], ties → doc_id) and cut into `nBuckets`
    * equal ntiles (bucket 1 = worst … n = best, the easy→hard schedule a
    * trainer consumes bucket by bucket); emitted as the per-bucket
    * manifest (doc/token counts, score range, mean). Rank-based like
    * [[qualityPrune]], so it survives cross-language score-distribution
    * shifts that absolute thresholds mis-bucket.
    *
    * Scale shape: one narrow pass scores docs, one lang-partitioned
    * window ranks them (the [[qualityPrune]] discipline — per-stratum
    * parallel, no global sort), and the output agg is langs×buckets rows.
    * Both engines assign ntile identically: earlier buckets take the
    * remainder docs. */
  def curriculum(docs: DataFrame, nBuckets: Int = 10): DataFrame = {
    val q = docs.select(col("doc_id"), col("lang"),
      expr("size(split(text, ' '))").as("n_tokens"),
      expr(qualityScoreExpr).as("quality_score"))
    val w = Window.partitionBy("lang").orderBy(col("quality_score").asc, col("doc_id").asc)
    q.withColumn("bucket", ntile(nBuckets).over(w))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("n_tokens"),
        min(col("quality_score")).as("min_score"),
        max(col("quality_score")).as("max_score"),
        expr("round(avg(quality_score), 6)").as("avg_score"))
      .withColumn("bucket", col("bucket").cast("int"))
      .orderBy("lang", "bucket")
  }

  /** Tokenizer VOCABULARY builder: the corpus's top-`topK` tokens by
    * frequency (ties → token asc) with each token's share of all corpus
    * tokens — the frequency table a tokenizer build (or an OOV audit)
    * starts from. Scale shape: one (token) partial-agg shuffle with
    * map-side combine, a TakeOrdered top-k heap (never a global sort of
    * the vocabulary), the 1-row total broadcast onto the K survivors, and
    * a K-row window for the rank. */
  def vocab(docs: DataFrame, topK: Int = 200): DataFrame = {
    val counts = Dedup.spread(docs)
      .select(explode(expr("split(text, ' ')")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
    val total = counts.agg(sum("freq").cast("long").as("total"))
    val top = counts.orderBy(col("freq").desc, col("token").asc).limit(topK)
      .withColumn("__one", graft.ops.Scale.constKey(col("freq")))
    top.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(
        Window.partitionBy("__one").orderBy(col("freq").desc, col("token").asc)))
      .select(col("rank").cast("int").as("rank"), col("token"), col("freq"),
        expr("round(freq / total, 6)").as("share"))
      .orderBy("rank")
  }

  /** Per-source token-distribution DRIFT from the whole corpus — the
    * "which crawl dump went bad" triage signal: a source whose unigram
    * distribution sits far from the corpus-wide one signals language
    * shift, template contamination, or extraction corruption, before any
    * per-document filter would notice.
    *
    * Drift is the L1 distance Σ_t |p_s(t) − p(t)| ∈ [0, 2], computed
    * EXACTLY via cross-multiplication: with per-source counts c_st
    * (total T_s) and corpus counts c_t (total T), the numerator is
    * Σ_present |c_st·T − c_t·T_s| + (T − Σ_present c_t)·T_s — the second
    * term folds every token ABSENT from the source in closed form, so the
    * sum never materializes the full source×vocab cross product. All
    * BIGINT until the single final division (c·T ≤ ~9e18 bounds the
    * corpus at ~3e9 tokens per side; lift to DECIMAL(38,0) beyond, same
    * plan).
    *
    * Scale shape: one (source, token) partial-agg shuffle over the corpus,
    * one token partial-agg for the global counts, a co-partitioned
    * equi-join on token, and a final per-source fold — bounded by
    * vocab × sources, never by document count. */
  def sourceDrift(docs: DataFrame): DataFrame = {
    val tok = Dedup.spread(docs)
      .select(col("source"), explode(expr("split(text, ' ')")).as("token"))
    // r15: materialize the (source, token) counts — the source totals, the
    // global counts and the present-term fold all read them; unmaterialized,
    // each reference re-ran the token explode over the corpus.
    val src = tok.groupBy("source", "token").agg(count(lit(1)).as("c_st"))
      .localCheckpoint()
    val srcTot = src.groupBy("source").agg(
      sum("c_st").cast("long").as("n_tokens"),
      count(lit(1)).as("n_distinct"))
    val glob = src.groupBy("token").agg(sum("c_st").cast("long").as("c_t"))
    val tot = glob.agg(sum("c_t").cast("long").as("t_all"))
    val present = src.join(glob, "token")
      .join(srcTot, "source")
      .crossJoin(broadcast(tot))
      .groupBy("source", "n_tokens", "n_distinct", "t_all")
      .agg(sum(expr("abs(c_st * t_all - c_t * n_tokens)")).cast("long").as("num_present"),
           sum(col("c_t")).cast("long").as("c_glob_present"))
    present
      .withColumn("num", expr("num_present + (t_all - c_glob_present) * n_tokens"))
      .select(col("source"), col("n_tokens"), col("n_distinct"),
        expr("round(num / (CAST(n_tokens AS DOUBLE) * CAST(t_all AS DOUBLE)), 6)").as("l1_drift"))
      .orderBy("source")
  }

  /** Language identification via in-engine-trained bigram profiles — the
    * n-gram-profile method (Cavnar-Trenkle / CLD family) expressed as a
    * distributed pipeline:
    *
    *   1. train split = doc_id % 5 != 0 (deterministic); bigram counts per
    *      language and overall (two shuffles on (lang, bigram) / bigram);
    *   2. integer weight per (bigram, lang): a symmetric discriminativeness
    *      ratio round(1000*(p-q)/(p+q+1)) with p/q scaled frequencies —
    *      log-free so the arithmetic is IEEE-deterministic;
    *   3. score each held-out doc by the sum of weights of its distinct
    *      bigrams (inner join on bigram — the profile is small and
    *      broadcastable at any corpus size since it's bounded by vocab²);
    *   4. argmax per doc with (score desc, lang asc) tie-break.
    *
    * Accuracy on the synthetic corpus is ~29% vs 20% chance — the corpus
    * draws all languages from one shared vocabulary with nearly identical
    * distributions, so the ceiling is low by construction; on natural text
    * this profile method is the standard heuristic. */
  /** Document-frequency index + per-doc top terms: for each document the
    * `topK` highest-tf terms (ties → lexicographically first), each carrying
    * its corpus document frequency — the raw material for stopword
    * discovery, vocab pruning, and tf-idf (idf deferred to the consumer:
    * ln() is libm-dependent and would break bit-determinism; tf and df are
    * exact integers).
    *
    * Scale shape: the classic inverted-index build — explode tokens, one
    * shuffle to (doc_id, term) counts, one partial-agg shuffle to per-term
    * df (hot terms combine map-side), a per-doc top-k window, and a join
    * back to df. No driver state; vocabulary stays distributed. */
  /** Per-SOURCE distinctive terms — tf-idf with the repo's exact integer
    * rarity weight (`1e6 div df`, the [[search]] convention: a real idf ln()
    * is libm-dependent and would break the cross-engine oracle). The corpus
    * characterization report: which terms mark source S apart from the
    * rest — topic drift, template leakage, and extraction bugs show up here
    * as a source whose top terms stop looking like its domain.
    *
    * Scale shape: one token explode feeding two partial-agg shuffles
    * ((source, term) tf and per-doc-distinct df); the joined relation is
    * sources×vocab / vocab-sized — tiny next to the corpus — and the
    * top-k window partitions by source. The corpus is scanned once. */
  def tfidfTerms(docs: DataFrame, topK: Int = 10): DataFrame = {
    val toks = Dedup.spread(docs)
      .select(col("doc_id"), col("source"), explode(expr("split(text, ' ')")).as("term"))
    val tf = toks.groupBy("source", "term").agg(count(lit(1)).as("tf"))
    val dft = toks.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("source").orderBy(col("score").desc, col("term").asc)
    tf.join(dft, "term")
      .withColumn("score", expr("tf * (1000000 div df)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("source"), col("rank").cast("int").as("rank"), col("term"),
        col("tf"), col("df"), col("score"))
      .orderBy("source", "rank")
  }

  def dfIndex(docs: DataFrame, topK: Int = 5): DataFrame = {
    val tf = Dedup.spread(docs)
      .select(col("doc_id"), explode(expr("split(text, ' ')")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(col("tf").desc, col("term").asc)
    tf.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .join(dft, "term")
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"))
      .orderBy("doc_id", "rank")
  }

  /** Keyword search over the corpus — the retrieval shape (tf × rarity
    * ranking, BM25's skeleton with the idf log replaced by an exact
    * integer rarity weight `1e6 div df`, keeping the score a BIGINT so
    * ranking is bit-deterministic; real BM25's ln()/length-normalization
    * are libm-dependent and would break the cross-engine oracle).
    *
    * Scale shape: the per-(doc, term) tf aggregation runs ONLY on rows
    * whose term is in the (tiny, literal) query set — the filter pushes
    * below the explode into the scan side, so the index built is
    * queryTerms-sized, not corpus-vocabulary-sized. df comes from the same
    * filtered relation; the final top-k window sees ≤ one row per matching
    * doc. */
  def search(docs: DataFrame, queryTerms: Seq[String] = Seq("spark", "join", "hash"),
             k: Int = 10): DataFrame = {
    require(queryTerms.nonEmpty)
    // isin, not SQL-string interpolation: a quoted term would need
    // backslash escaping ('' is concatenation in Spark SQL, not an escape)
    val tf = Dedup.spread(docs)
      .select(col("doc_id"), explode(expr("split(text, ' ')")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(dft), "term")
      .groupBy("doc_id")
      .agg(sum(expr("tf * (1000000 div df)")).as("score"),
           count(lit(1)).as("n_terms_hit"))
    // top-k FIRST via orderBy+limit (TakeOrderedAndProject — per-partition
    // heaps, no global sort), so the global rank window only ever sees k
    // rows; ranking all matches with a partitionless window would funnel
    // every matching doc through one partition at scale. The rank window
    // on that k-row relation is intentionally one partition; partitioning
    // it by the constant-valued pmod(doc_id, 1) (= 0 for every row, but
    // not foldable — a bare lit would be constant-folded back to an empty
    // spec) keeps WindowExec from logging its move-all-data warning in
    // every bench run over a window that holds ≤ k rows by construction.
    val w = Window.partitionBy(pmod(col("doc_id"), lit(1)))
      .orderBy(col("score").desc, col("doc_id").asc)
    scored.orderBy(col("score").desc, col("doc_id").asc).limit(k)
      .withColumn("rank", row_number().over(w))
      .select(col("rank").cast("int").as("rank"), col("doc_id"),
        col("score"), col("n_terms_hit"))
      .orderBy("rank")
  }

  /** Full BM25 ranking (k1 = 1.2, b = 0.75, the BM25+ idf
    * `ln((N − df + 0.5)/(df + 0.5) + 1)` that stays positive for common
    * terms) — the real-scoring counterpart of [[search]]'s integer-rarity
    * skeleton. [[search]]'s doc note about ln() breaking the cross-engine
    * oracle is relaxed here by the discipline [[zipf]] proved out (round
    * 6): each per-term contribution is an IEEE expression with the SAME
    * literal shape in the oracle, rounded to 9 dp BEFORE the cross-row
    * sum, which then crosses rows as DECIMAL(38,12) so summation order
    * cannot flip a bit; the final score rounds to 6 dp.
    *
    * Scale shape (inherited from [[search]]): the term filter pushes below
    * the explode, so the tf index is queryTerms-sized; df and the corpus
    * scalars (N, Σlen) are broadcast 1-row/|terms|-row folds; length
    * normalization uses the exact `len · N / Σlen` form (one double
    * division, no precomputed IEEE average crossing the join). Top-k is
    * the orderBy+limit heap cut; only the k-row survivor relation sees
    * the rank window. */
  def bm25(docs: DataFrame, queryTerms: Seq[String] = Seq("spark", "window", "join"),
           k: Int = 20): DataFrame = {
    require(queryTerms.nonEmpty)
    val base = Dedup.spread(docs)
      .select(col("doc_id"), expr("CAST(size(split(text, ' ')) AS BIGINT)").as("len"),
        split(col("text"), " ").as("toks"))
    val totals = base.agg(count(lit(1)).cast("long").as("n_docs"),
      sum(col("len")).cast("long").as("sum_len"))
    val tf = base.select(col("doc_id"), col("len"), explode(col("toks")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy("doc_id", "len", "term").agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(dft), "term")
      .crossJoin(broadcast(totals))
      .withColumn("contrib", expr(
        """round(ln((n_docs - df + 0.5) / (df + 0.5) + 1) * (tf * 2.2)
          |  / (tf + 1.2 * (0.25 + 0.75 * (CAST(len * n_docs AS DOUBLE) / sum_len))), 9)""".stripMargin))
      .groupBy("doc_id")
      .agg(expr("round(CAST(sum(CAST(contrib AS DECIMAL(38, 12))) AS DOUBLE), 6)").as("score"),
        count(lit(1)).as("n_terms_hit"))
    val w = Window.partitionBy(pmod(col("doc_id"), lit(1)))
      .orderBy(col("score").desc, col("doc_id").asc)
    scored.orderBy(col("score").desc, col("doc_id").asc).limit(k)
      .withColumn("rank", row_number().over(w))
      .select(col("rank").cast("int").as("rank"), col("doc_id"),
        col("score"), col("n_terms_hit"))
      .orderBy("rank")
  }

  /** FEATURE-HASHING document vectors (the hashing trick): each token is
    * signed-hashed into `dim` buckets (bucket = md5 hex[1..4] mod dim,
    * sign = parity of hex digit 5 — the same md5-region derivations the
    * sampling ops use, so no RNG and any engine reproduces them), weights
    * summed per (doc, bucket), emitted SPARSE in long format with the
    * L2-normalized value alongside. The deterministic no-model embedding
    * that bridges the text family to the similarity family — top-k cosine
    * / kNN-graph ops consume it unchanged.
    *
    * Scale shape: one narrow hash projection (no joins, nothing
    * driver-side), one (doc_id, bucket) partial-agg shuffle, and a
    * co-partitioned doc_id join for the norm — the long format keeps the
    * shuffle rows 24 bytes each instead of moving dense arrays. Exact-zero
    * buckets (signs cancel) are dropped on BOTH sides — sparse semantics.
    *
    * Determinism: weights and the squared-norm are exact BIGINTs; the
    * normalized value is the one IEEE sqrt+division, rounded to 6 with
    * the identical literal shape in the oracle. */
  def featureHash(docs: DataFrame, dim: Int = 64): DataFrame = {
    require(dim >= 2)
    val tok = Dedup.spread(docs)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("h", md5(col("tok")))
      .select(col("doc_id"),
        expr(s"CAST(conv(substring(h, 1, 4), 16, 10) AS BIGINT) % $dim").as("dim"),
        expr("CASE WHEN CAST(conv(substring(h, 5, 1), 16, 10) AS BIGINT) % 2 = 0 THEN 1L ELSE -1L END").as("sgn"))
    val w = tok.groupBy("doc_id", "dim").agg(sum("sgn").cast("long").as("w"))
      .filter(col("w") =!= 0)
    val nrm = w.groupBy("doc_id").agg(sum(col("w") * col("w")).cast("long").as("ss"))
    w.join(nrm, "doc_id")
      .withColumn("w_norm", expr("round(w / sqrt(CAST(ss AS DOUBLE)), 6)"))
      .select(col("doc_id"), col("dim"), col("w"), col("w_norm"))
      .orderBy("doc_id", "dim")
  }

  /** DATASET CARD — the one-artifact corpus summary an LLM data release
    * publishes: corpus scale (docs/tokens/avg), length distribution (p50
    * exact-interpolated + max), language shares, source count, and the
    * two dedup health rates (exact-dup docs on the 80-char content key;
    * corpus paragraph-duplication fraction over 15-word chunks — the
    * [[graft.ext.Dedup.paragraphs]] unit). Long format (section, metric,
    * value DOUBLE — counts are ≤2⁵³ so the cast is exact), totally
    * ordered by (section, metric).
    *
    * Scale shape: every metric is a partial-agg fold — three bounded
    * aggregations over the tokenized projection (corpus scalars, lang
    * shares, chunk distinct-rate) plus one over raw docs; no joins except
    * the 1-row total broadcast under the lang shares; output rows =
    * 8 + |langs|. The exact p50 buffers per-task token counts the same
    * way [[graft.ext.Events.valueStats]] does (approx_percentile is the
    * documented swap at extreme cardinality).
    *
    * Determinism: counts exact; avg/shares/fractions are single IEEE
    * divisions of exact BIGINTs, rounded to 6 with the same literal shape
    * in the oracle; p50 is the interpolated percentile both engines
    * define identically (percentile ≡ quantile_cont). */
  def datasetCard(docs: DataFrame, paragraphWidth: Int = 15): DataFrame = {
    val toks = Dedup.spread(docs).select(col("doc_id"), col("lang"), col("source"),
      expr("CAST(size(split(text, ' ')) AS BIGINT)").as("n_toks"))
    val corpus = toks.agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum("n_toks").cast("long").as("n_tokens"),
        max("n_toks").cast("long").as("max_tokens"),
        expr("round(CAST(sum(n_toks) AS DOUBLE) / count(1), 6)").as("avg_doc_tokens"),
        expr("round(percentile(n_toks, 0.5e0), 6)").as("p50_tokens"),
        countDistinct(col("source")).cast("long").as("n_sources"))
      .selectExpr(
        """stack(6,
          |  'corpus', 'n_docs', CAST(n_docs AS DOUBLE),
          |  'corpus', 'n_tokens', CAST(n_tokens AS DOUBLE),
          |  'corpus', 'avg_doc_tokens', avg_doc_tokens,
          |  'length', 'max_tokens', CAST(max_tokens AS DOUBLE),
          |  'length', 'p50_tokens', p50_tokens,
          |  'source', 'n_sources', CAST(n_sources AS DOUBLE)
          |) AS (section, metric, value)""".stripMargin)
    val total = toks.agg(count(lit(1)).cast("long").as("n_docs"))
    val langs = toks.groupBy("lang").agg(count(lit(1)).cast("long").as("n"))
      .crossJoin(broadcast(total))
      .select(lit("lang").as("section"), col("lang").as("metric"),
        expr("round(n / n_docs, 6)").as("value"))
    val exactDup = docs.agg(
        (count(lit(1)) - countDistinct(expr("md5(substring(text, 1, 80))")))
          .cast("double").as("value"))
      .select(lit("dedup").as("section"), lit("exact_dup_docs").as("metric"), col("value"))
    val chunks = docs
      .select(explode(expr(
        s"""transform(sequence(0, CAST((size(split(text, ' ')) + ${paragraphWidth - 1}) / $paragraphWidth AS INT) - 1),
           |  i -> md5(array_join(slice(split(text, ' '), i * $paragraphWidth + 1, $paragraphWidth), ' ')))""".stripMargin))
        .as("ch"))
      .agg(expr("round((count(1) - count(DISTINCT ch)) / count(1), 6)").as("value"))
      .select(lit("dedup").as("section"), lit("paragraph_dup_frac").as("metric"), col("value"))
    corpus.unionAll(langs).unionAll(exactDup).unionAll(chunks)
      .orderBy("section", "metric")
  }

  /** TRAINED quality classifier — the supervised model closing the loop
    * from labels to a deployable filter (the CCNet/fastText pattern:
    * train a cheap linear model on rule labels, deploy the model where
    * the rule is too slow or too rigid). Labels come from the SHIPPED
    * Gopher rule filter ([[graft.ext.Clean.gopherQualityCols]] pass_all —
    * one definition, so the model provably learns the deployed gate);
    * features are the hashing-trick union of content unigrams and four
    * binned structural tokens (#w word-count log2 bin via `length(bin())`
    * — integer-exact, no IEEE log at a bin boundary; #d distinct-ratio
    * decile; #m mean-word-length floor; #s stopword flag), each md5-hex4
    * bucketed mod `dim`; per-doc features are PRESENCE (distinct buckets),
    * which is what makes the closed-form weights low-noise — a content
    * bucket present in both classes at similar doc rates weighs ≈ 0.
    *
    * Training is [[langId]]'s one-pass closed form, binary: per bucket
    * the class-conditional doc-presence rates, folded to an integer
    * weight with the same fixed-point formula — no iterative optimizer,
    * so both engines replay training EXACTLY (the held-out confusion
    * hash-matches, not just approximately). Score = Σ weights of the
    * doc's distinct buckets (unseen buckets contribute 0 via the LEFT
    * join's coalesce, so a doc whose every bucket is unseen still scores
    * — 0, the score<=0 fail class — instead of silently vanishing);
    * predict pass when score > 0. On the sf0.01 fixture the held-out
    * accuracy is 94% vs the 76% majority baseline.
    *
    * Scale shape: one (doc, bucket) distinct + one (bucket) partial-agg
    * shuffle for training; the weight table is ≤ dim rows → broadcast to
    * the scoring join; class totals are a 1-row broadcast. The kmeansRun
    * discipline: bounded relations fold driver-side only implicitly
    * through broadcast — no collect at all here.
    *
    * The pieces are exposed separately — [[qualityFeatures]] /
    * [[qualityTrain]] / [[qualityScoreWith]] — so the same model trains
    * on ANY (doc_id, label) relation (real labeled data, not just the
    * Gopher gate) and scores ANY corpus; [[qualityScore]] is the
    * assembled corpus-wide deployable filter. */
  def qualityModel(docs: DataFrame, dim: Int = 256): DataFrame = {
    // r15: materialize the labels once — the train fold filter and the
    // held-out eval join both read them, and the Gopher gate behind them
    // is a full regex/tokenize pass over the corpus.
    val lab = gopherLabels(docs).localCheckpoint()
    val weights = qualityTrain(docs, lab.filter(col("doc_id") % 5 =!= 0), dim)
    qualityScoreWith(docs.filter(col("doc_id") % 5 === 0), weights, dim)
      .join(lab, "doc_id")
      .select(col("doc_id"), col("label"), col("score"), col("pred"))
      .withColumn("correct",
        (col("pred") === col("label")).cast("long"))
      .orderBy("doc_id")
  }

  /** (doc_id, label) from the SHIPPED Gopher gate
    * ([[graft.ext.Clean.gopherQualityCols]] pass_all) — the default label
    * source for [[qualityTrain]]; one definition, so the model provably
    * learns the deployed rule. */
  def gopherLabels(docs: DataFrame): DataFrame =
    graft.ext.Clean.gopherQualityCols(docs)
      .select(col("doc_id"), col("pass_all").cast("long").as("label"))

  /** The hashed PRESENCE-feature relation (doc_id, dim): content unigrams
    * ∪ the four binned structural tokens, each md5-hex4 bucketed mod
    * `dim`, distinct per doc. One text scan: content tokens and the
    * structural signals both come from [[graft.ext.Clean.gopherSignalCols]]'
    * shared token array. */
  private[graft] def qualityFeatures(docs: DataFrame, dim: Int): DataFrame = {
    require(dim >= 2)
    graft.ext.Clean.gopherSignalCols(Dedup.spread(docs))
      .select(col("doc_id"),
        explode(concat(col("w"), qualityStructToks)).as("tok"))
      .select(col("doc_id"), qualityBucket(col("tok"), dim).as("dim"))
      .distinct()
  }

  /** The four binned structural feature tokens over gopher-signal columns
    * (#w word-count log2 bin via `length(bin())` — integer-exact; #d
    * distinct-ratio decile; #m mean-word-length floor; #s stopword flag). */
  private def qualityStructToks: Column = array(
    concat(lit("#w"), length(expr("bin(CAST(n_words AS BIGINT))")).cast("string")),
    concat(lit("#d"), floor(col("distinct_ratio") * 10).cast("string")),
    concat(lit("#m"), floor(col("mean_word_len")).cast("string")),
    concat(lit("#s"), col("has_stopword").cast("string")))

  /** md5-hex4 hashing-trick bucket of a token, mod `dim` — the ONE bucket
    * definition shared by batch features and the folded-weights streaming
    * scorer. */
  private[graft] def qualityBucket(tok: Column, dim: Int): Column =
    conv(substring(md5(tok), 1, 4), 16, 10).cast("long") % dim

  /** Closed-form training over ANY (doc_id, label ∈ {0,1}) relation —
    * pass real labeled data here, or [[gopherLabels]] (what
    * [[qualityModel]]/[[qualityScore]] do) to learn the deployed rule
    * gate. Returns the ≤`dim`-row integer weight relation (dim, wt). Only
    * docs present in `labels` train (inner join), so fold selection is
    * caller-side label filtering. */
  def qualityTrain(docs: DataFrame, labels: DataFrame, dim: Int = 256): DataFrame = {
    require(dim >= 2)
    val lab = labels.select(col("doc_id"), col("label").cast("long").as("label"))
    val train = qualityFeatures(docs, dim).join(lab, "doc_id")
    val cnt = train.groupBy("dim").agg(
      sum("label").cast("long").as("cp"),
      sum(expr("1 - label")).cast("long").as("cn"))
    val tot = lab.agg(
      sum("label").cast("long").as("tp"),
      sum(expr("1 - label")).cast("long").as("tn"))
    cnt.crossJoin(broadcast(tot)).select(col("dim"),
      expr("""CAST(round(1000 * (1000000.0 * cp / tp - 1000000.0 * cn / tn)
             |  / (1000000.0 * cp / tp + 1000000.0 * cn / tn + 1)) AS BIGINT)""".stripMargin)
        .as("wt"))
  }

  /** Score docs against a trained weight relation: per-doc Σ of distinct-
    * bucket weights via a broadcast LEFT join (all-unseen docs score 0 —
    * the fail class — instead of dropping), pred = score > 0. No output
    * sort: this is the production projection; oracle-facing callers add
    * their own. */
  def qualityScoreWith(docs: DataFrame, weights: DataFrame,
                       dim: Int = 256): DataFrame =
    qualityFeatures(docs, dim)
      .join(broadcast(weights), Seq("dim"), "left")
      .groupBy("doc_id").agg(
        coalesce(sum("wt"), lit(0L)).cast("long").as("score"))
      .withColumn("pred", (col("score") > 0).cast("long"))

  /** The DEPLOYABLE corpus-wide quality filter — what a pipeline actually
    * runs: train on the doc_id % 5 != 0 fold of the label relation
    * (default [[gopherLabels]]; pass real labels to train the same model
    * on ground truth), then score EVERY document with the trained
    * weights. `in_train` flags the fold a doc was trained on, so
    * downstream evals can exclude it. Same scale shape as
    * [[qualityModel]], with the scoring join now over the full corpus —
    * still one broadcast join + one partial-agg shuffle. */
  def qualityScore(docs: DataFrame, dim: Int = 256,
                   labels: Option[DataFrame] = None): DataFrame = {
    val lab = labels.getOrElse(gopherLabels(docs))
    val weights = qualityTrain(docs, lab.filter(col("doc_id") % 5 =!= 0), dim)
    qualityScoreWith(docs, weights, dim)
      .withColumn("in_train", (col("doc_id") % 5 =!= 0).cast("long"))
      .orderBy("doc_id")
  }

  /** CALIBRATION of the trained quality scorer — the trust report a
    * pipeline wants before acting on the score: bucket the HELD-OUT fold
    * (doc_id % 5 = 0, never trained on) into fixed-width score bins and
    * report each bin's label pass rate. A well-calibrated model shows
    * pass_rate rising monotonically with the bin; a flat curve means the
    * score carries no signal and the threshold is arbitrary. Fixed-width
    * integer bins (`floor(score / binWidth)`) instead of quantiles on
    * purpose: a decile cut needs a global rank over the corpus — the
    * global-row_number anti-pattern — while the bin is a stateless
    * per-row expression and the output is ≤ (score range / binWidth)
    * rows. All counts exact; one IEEE division per bin. */
  def qualityCalibration(docs: DataFrame, dim: Int = 256,
                         labels: Option[DataFrame] = None,
                         binWidth: Long = 1000L): DataFrame = {
    require(binWidth >= 1)
    // r15 NOTE: materializing `lab` here was tried and REJECTED by in-run
    // A/B (min 2.19 s vs 1.82 s at sf0.1) — unlike [[qualityModel]], whose
    // held-out eval join reads the labels against a much smaller fold.
    val lab = labels.getOrElse(gopherLabels(docs))
    val weights = qualityTrain(docs, lab.filter(col("doc_id") % 5 =!= 0), dim)
    qualityScoreWith(docs, weights, dim)
      .filter(col("doc_id") % 5 === 0)
      .join(lab, "doc_id")
      .withColumn("bin", expr(s"CAST(floor(score / $binWidth.0) AS BIGINT)"))
      .groupBy("bin").agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum("label").cast("long").as("n_pass"))
      .select(col("bin"), (col("bin") * binWidth).as("bin_lo"),
        col("n_docs"), col("n_pass"),
        expr("round(n_pass / CAST(n_docs AS DOUBLE), 6)").as("pass_rate"))
      .orderBy("bin")
  }

  /** MODEL STORE — persist the trained weight relation so serving never
    * retrains (the 8th stored index, and the family's model-registry
    * member): train once from labeled history, publish the ≤ dim-row
    * weight table + its feature config atomically, then every scoring
    * run — batch daily pass or streaming twin — loads the bytes and pays
    * ONE broadcast join over its own input. No append verb on purpose: a
    * model has no increment — retraining is a REBUILD that atomically
    * replaces the published weights (the frozen-quantizer contract), and
    * the rename-atomic swap IS the version bump. meta.txt records `dim`
    * because scoring MUST bucket features with the same hash modulus the
    * trainer used — a mismatched dim would silently scramble every
    * feature lookup. */
  def buildQualityModelStore(docs: DataFrame, storeDir: String,
                             dim: Int = 256,
                             labels: Option[DataFrame] = None): Unit = {
    val lab = labels.getOrElse(gopherLabels(docs))
    val weights = qualityTrain(docs, lab.filter(col("doc_id") % 5 =!= 0), dim)
    graft.ops.StoreLifecycle.publish(storeDir) { tmp =>
      val next = java.nio.file.Paths.get(tmp)
      java.nio.file.Files.createDirectories(next)
      weights.coalesce(1).write.mode("overwrite").parquet(s"$tmp/weights")
      java.nio.file.Files.write(next.resolve("meta.txt"),
        s"dim=$dim\n".getBytes("UTF-8"))
      java.nio.file.Files.write(next.resolve("_SUCCESS"), Array.empty[Byte])
    }
  }

  /** Load the published weight relation + the dim it was trained with —
    * the bounded read every serving path starts from (≤ dim rows). */
  def loadQualityModelStore(spark: SparkSession,
                            storeDir: String): (DataFrame, Int) = {
    val dim = graft.ops.StoreLifecycle.readMeta(storeDir)("dim").trim.toInt
    (spark.read.parquet(s"$storeDir/weights"), dim)
  }

  /** Score ANY docs DataFrame against the PUBLISHED model — the daily
    * serving pass: zero training work, one broadcast join of the ≤
    * dim-row stored weights over one corpus scan ([[qualityScoreWith]]'s
    * shape). Same relation as [[qualityScore]] minus the trainer's
    * in_train fold flag (the store serves scoring; folds are the
    * trainer's concern). */
  def scoreAgainstModelStore(docs: DataFrame, storeDir: String): DataFrame = {
    val (weights, dim) = loadQualityModelStore(docs.sparkSession, storeDir)
    qualityScoreWith(docs, weights, dim).orderBy("doc_id")
  }

  /** Fold a trained weight relation to a driver map — bounded by
    * construction (≤ dim rows; the trained-quantizer literal-fold
    * discipline), for the streaming scorer's per-row map lookup. */
  def foldQualityWeights(weights: DataFrame): Map[Long, Long] =
    weights.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** The stateless row-local scoring projection over FOLDED weights — the
    * streaming twin's engine ([[graft.streaming.DocStreams.qualityScoreStream]]):
    * the per-doc distinct bucket set is computed INSIDE the row
    * (array_distinct over the same shared token array + [[qualityBucket]]
    * formula), scored by one aggregate() over the weight-map literal — no
    * explode, no shuffle, no state; model parameters travel with the
    * query, the standard serving shape. Differentially spec'd equal to
    * the batch [[qualityScoreWith]] join path. */
  private[graft] def qualityScoreCols(docs: DataFrame,
                                      weights: Map[Long, Long],
                                      dim: Int): DataFrame = {
    require(dim >= 2)
    val scoreCol =
      if (weights.isEmpty) lit(0L)
      else {
        val wmap = map(weights.toSeq.sortBy(_._1)
          .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
        aggregate(
          array_distinct(transform(concat(col("w"), qualityStructToks),
            t => qualityBucket(t, dim))),
          lit(0L),
          (acc, d) => acc + coalesce(element_at(wmap, d), lit(0L)))
      }
    graft.ext.Clean.gopherSignalCols(docs)
      .select(col("doc_id"), scoreCol.as("score"))
      .withColumn("pred", (col("score") > 0).cast("long"))
  }

  /** Confusion-matrix eval for [[qualityModel]] — the [[langidConfusion]]
    * report for the binary quality gate: per (label, pred) cell the
    * held-out doc count, the label total, and the rate (diagonal =
    * per-class recall). */
  def qualityModelEval(docs: DataFrame, dim: Int = 256): DataFrame = {
    // r15: materialize the held-out predictions — cell counts and class
    // totals both aggregate them (two full train+score runs otherwise).
    val preds = qualityModel(docs, dim).localCheckpoint()
    val n = preds.groupBy("label", "pred").agg(count(lit(1)).cast("long").as("n"))
    val tot = preds.groupBy("label").agg(count(lit(1)).cast("long").as("n_label"))
    n.join(broadcast(tot), "label")
      .withColumn("rate", expr("round(n / n_label, 6)"))
      .select(col("label"), col("pred"), col("n"), col("n_label"), col("rate"))
      .orderBy("label", "pred")
  }

  def langId(docs: DataFrame): DataFrame = {
    // r15 NOTE: materializing `bg` here was tried and REJECTED by in-run
    // A/B (2.6 s vs 1.8 s at sf0.1): the five aggregates over it each fuse
    // explode+partial-agg into one codegen stage with map-side combine, so
    // the re-scans are cheaper than writing/reading the token-level
    // relation. Contrast [[langidConfusion]], where one checkpoint of the
    // ≤-heldout-row predictions DOES pay (it saves a whole second train).
    val bg = docs
      .select(col("doc_id"), col("lang"), expr("split(text, ' ')").as("w"))
      .select(col("doc_id"), col("lang"),
        explode(expr(
          "transform(sequence(1, size(w) - 1), i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"))
          .as("bigram"))
    val train = bg.filter(col("doc_id") % 5 =!= 0)
    val test  = bg.filter(col("doc_id") % 5 === 0)

    val perLang  = train.groupBy("lang", "bigram").agg(count(lit(1)).as("cnt"))
    val langTot  = train.groupBy("lang").agg(count(lit(1)).as("n_l"))
    val perBg    = train.groupBy("bigram").agg(count(lit(1)).as("cnt_all"))
    val totRow   = train.agg(count(lit(1)).as("tot"))

    // all (bigram × lang) combos so unseen-in-language bigrams get their
    // (negative) weight instead of dropping out
    val weights = perBg.crossJoin(broadcast(langTot))
      .join(perLang, Seq("bigram", "lang"), "left")
      .na.fill(0L, Seq("cnt"))
      .crossJoin(broadcast(totRow))
      .select(col("bigram"), col("lang"),
        expr("""CAST(round(1000 * (1000000.0 * cnt / n_l - 1000000.0 * cnt_all / tot)
               |  / (1000000.0 * cnt / n_l + 1000000.0 * cnt_all / tot + 1)) AS BIGINT)""".stripMargin)
          .as("w"))

    val testBg = test.select(col("doc_id"), col("lang").as("actual"), col("bigram")).distinct()
    val scores = testBg.join(weights.withColumnRenamed("lang", "cand"), Seq("bigram"))
      .groupBy(col("doc_id"), col("actual"), col("cand"))
      .agg(sum(col("w")).as("score"))
    val rk = Window.partitionBy("doc_id").orderBy(col("score").desc, col("cand").asc)
    scores.withColumn("rn", row_number().over(rk))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("cand").as("pred_lang"), col("actual"),
        when(col("cand") === col("actual"), lit(1)).otherwise(lit(0)).as("correct"))
      .orderBy("doc_id")
  }

  /** Language-ID CONFUSION matrix — the eval report for [[langId]]: per
    * (actual, predicted) pair the held-out doc count, the actual-class
    * total, and recall (the diagonal is per-language accuracy; off-diagonal
    * rows show which language pairs the n-gram model confuses — the
    * classifier-debug table every langid deployment reads first).
    *
    * Scale shape: inherits [[langId]]'s (broadcast language profiles, one
    * test-bigram join); everything after the per-doc argmax is partial
    * aggs over ≤ langs² rows. Recall is one IEEE division of exact
    * counts. */
  def langidConfusion(docs: DataFrame): DataFrame = {
    // r15: materialize the per-doc predictions — both the cell counts and
    // the class totals aggregate them, and unmaterialized each reference
    // re-ran the whole langId train+score pipeline.
    val preds = langId(docs).localCheckpoint()
    val n = preds.groupBy("actual", "pred_lang").agg(count(lit(1)).as("n"))
    val tot = preds.groupBy("actual").agg(count(lit(1)).as("n_actual"))
    n.join(broadcast(tot), "actual")
      .withColumn("recall", expr("round(n / n_actual, 6)"))
      .select(col("actual"), col("pred_lang"), col("n"), col("n_actual"), col("recall"))
      .orderBy("actual", "pred_lang")
  }

  /** ZIPF-fit corpus health report: the least-squares slope of the
    * log-log rank–frequency line over the top-`topK` tokens, with
    * intercept and R² — natural text tracks slope ≈ −1; a flat slope
    * flags synthetic/templated text, a cliff flags vocabulary collapse
    * (the one-glance distributional check run next to [[vocab]]'s
    * head-token list).
    *
    * Scale shape: one (token) partial-agg shuffle collapses the corpus to
    * its vocabulary; the top-`topK` cut is a TakeOrderedAndProject heap
    * (NEVER a rank window over the full vocabulary — at web-corpus vocab
    * sizes a single-partition rank would funnel billions of rows through
    * one task); only the K-row survivor relation passes through the rank
    * window (non-foldable constant key — one partition intended, bounded
    * by `topK`). The uncapped vocabulary size is a separate 1-row
    * partial-agg fold of the same counts relation, broadcast onto the
    * single regression row.
    *
    * Determinism: counts and ranks exact (the heap and the window share
    * the total order (cnt DESC, token ASC)); the six regression sums
    * cross rows through DECIMAL(38,18) so summation order cannot flip a
    * bit; ln and the final slope/intercept/R² divisions are IEEE
    * expressions with the same literal shape in the oracle, round-6. */
  def zipf(docs: DataFrame, topK: Int = 1000): DataFrame = {
    require(topK >= 2)
    val counts = Dedup.spread(docs)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    // uncapped vocabulary size: 1-row fold, broadcast onto the result.
    // The cnt>=1 filter is a semantic no-op (counts are >=1 by
    // construction) that keeps `cnt` referenced, so column pruning cannot
    // rewrite this branch's counts subtree — both branches shuffle the
    // IDENTICAL exchange and ReuseExchange collapses them to one corpus
    // scan instead of two.
    val totals = counts.filter(col("cnt") >= 1)
      .agg(count(lit(1)).cast("long").as("vocab_size"))
    val ranked = counts
      .orderBy(col("cnt").desc, col("tok").asc).limit(topK)
      .withColumn("__one", graft.ops.Scale.constKey(col("cnt")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("__one").orderBy(col("cnt").desc, col("tok").asc)))
      .select(expr("ln(rank)").as("x"), expr("ln(cnt)").as("y"), col("cnt"))
    ranked
      .agg(
        count(lit(1)).cast("double").as("n"),
        expr("CAST(sum(CAST(x AS DECIMAL(38,18))) AS DOUBLE)").as("sx"),
        expr("CAST(sum(CAST(y AS DECIMAL(38,18))) AS DOUBLE)").as("sy"),
        expr("CAST(sum(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE)").as("sxx"),
        expr("CAST(sum(CAST(x * y AS DECIMAL(38,18))) AS DOUBLE)").as("sxy"),
        expr("CAST(sum(CAST(y * y AS DECIMAL(38,18))) AS DOUBLE)").as("syy"),
        sum("cnt").cast("long").as("ranked_tokens"))
      .crossJoin(broadcast(totals))
      .withColumn("slope_raw", expr("(n * sxy - sx * sy) / (n * sxx - sx * sx)"))
      .select(
        col("vocab_size"),
        col("n").cast("long").as("n_points"),
        col("ranked_tokens"),
        expr("round(slope_raw, 6)").as("slope"),
        expr("round((sy - slope_raw * sx) / n, 6)").as("intercept"),
        expr("""round((n * sxy - sx * sy) * (n * sxy - sx * sy)
                |  / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)""".stripMargin).as("r2"))
  }

  /** TOPIC CARDS — label each document cluster with its top-k
    * class-TF-IDF terms (the c-TF-IDF of BERTopic, Grootendorst 2022):
    * treat every cluster as one aggregate document, score term t in
    * cluster c as `tf(t, c) · ln(nClusters / df_clusters(t))`, and emit
    * the k highest-scoring terms per cluster. This is the "what is this
    * cluster about" deliverable of embedding-based corpus curation,
    * composed from the proven halves: an assignment relation (e.g.
    * [[Similarity.assignClusters]] over stub embeddings) and the corpus
    * text.
    *
    * Scale shape: one doc_id equi-join attaches cluster ids to docs
    * BEFORE the token explode (so the explode is narrow per row and
    * map-side partial aggregation collapses tokens to (cluster, term)
    * within each task), the df/nClusters relations are vocab- and
    * cluster-bounded (tiny, broadcast), and the final top-k window
    * partitions by cluster over ≤ vocab rows each. The corpus text
    * crosses the doc_id exchange once; nothing else is corpus-sized.
    *
    * Determinism: tf and df are exact integer counts; the score's one
    * `ln` + multiply replays bit-identically in DuckDB (the BM25/CE
    * precedent); ranking ties break (score DESC, term ASC). */
  def topicCards(docs: DataFrame, clusters: DataFrame, k: Int = 5): DataFrame = {
    val toks = docs.select(col("doc_id"), col("text"))
      .join(clusters, "doc_id")
      .select(col("cluster_id"), explode(split(col("text"), " ")).as("term"))
    // r15: materialize the (cluster, term) tf relation — the cluster-df,
    // the cluster count and the scoring join all read it, and each
    // reference re-ran the assignment join + token explode (for the
    // trained twin, the whole trained-quantizer assignment scan).
    val tf = toks.groupBy("cluster_id", "term")
      .agg(count(lit(1)).cast("long").as("tf"))
      .localCheckpoint()
    val df = tf.groupBy("term")
      .agg(count(lit(1)).cast("long").as("df_clusters"))
    val nc = tf.select("cluster_id").distinct()
      .agg(count(lit(1)).cast("long").as("n_clusters"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("score_raw").desc, col("term").asc)
    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(nc))
      .withColumn("score_raw",
        expr("tf * ln(CAST(n_clusters AS DOUBLE) / df_clusters)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("cluster_id"), col("rank"), col("term"), col("tf"),
        col("df_clusters"), expr("round(score_raw, 6)").as("score"))
      .orderBy("cluster_id", "rank")
  }
}
