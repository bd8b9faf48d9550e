package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM-data pipelines (SURVEY.md §2.8 E1):
  * exact, n-gram Jaccard, MinHash+LSH, SimHash, and embedding-cosine
  * near-dup, over the `documents` / `embeddings` tables.
  *
  * Scale shapes:
  *  - exact: one hash-shuffle on the content key (map-side partial agg);
  *  - ngramJaccard: inverted-index self-join on shingle — the standard
  *    all-pairs similarity join; shuffle is on shingle, never a cross join;
  *  - minhashLsh: signature is computed per row with array ops (no row
  *    blowup), candidate generation shuffles on (band, signature) — at
  *    100 TB only same-bucket pairs are ever materialized;
  *  - simhash: narrow per-row fingerprint;
  *  - embeddingCosine: quantized-integer cosine; the sf-scale path is the
  *    pair join below, the 100 TB path is LSH bucketing (see
  *    [[Similarity.lshTopK]]) — documented, same scoring core.
  *
  * Determinism: shingle hashing goes through md5 (identical in DuckDB);
  * similarity arithmetic is exact-integer (quantized) with final IEEE
  * divisions, bit-identical across engines.
  */
object Dedup {

  /** Fan a small-file scan out to all cores: a few-MB parquet table is one
    * input split, which would run the compute-heavy narrow passes below on
    * a single core. Conditional: when the scan already has at least
    * `defaultParallelism` splits (the 100 TB case — file splits provide the
    * parallelism), this is the identity and no shuffle is ever paid; the
    * repartition only fires for scans with fewer splits than cores.
    * The `.rdd` probe compiles the physical plan once more, but Spark's
    * shared InMemoryFileIndex caches the file listing per session+path, so
    * the duplicated planning costs no second filesystem sweep. */
  private[ext] def spread(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  /** Word n-gram shingles as a column expression (empty array when the doc
    * has fewer than n tokens — sequence() would run descending otherwise). */
  def shinglesExpr(n: Int): String =
    s"""CASE WHEN size(split(text, ' ')) >= $n
       |  THEN transform(sequence(1, size(split(text, ' ')) - ${n - 1}),
       |         i -> array_join(slice(split(text, ' '), i, $n), ' '))
       |  ELSE array() END""".stripMargin

  /** (doc_id, shingle-hash) inverted-index relation. shingle_hash60 emits
    * the per-doc DISTINCT 60-bit md5 shingle hashes in one narrow pass, so
    * no distinct() shuffle is needed and the index carries 8-byte longs
    * instead of shingle strings (same counts as the string index —
    * 60-bit collision odds ≈ 1e-14). */
  def shingleIndex(docs: DataFrame, n: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    spread(docs).select(col("doc_id"), explode(expr(s"shingle_hash60(text, $n)")).as("shingle"))
  }

  /** Exact dedup on a normalized content key (here: the first 80 chars —
    * the synthetic corpus has no full-text dups but does have shared
    * prefixes). Keeps the min doc_id per key, reports the group size.
    * One shuffle on md5(key); survivors stay distributed. */
  def exact(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(expr("md5(substring(text, 1, 80))"))
    docs
      .withColumn("n_copies", count(lit(1)).over(w))
      .withColumn("keeper", min(col("doc_id")).over(w))
      .filter(col("doc_id") === col("keeper"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"), col("n_copies"))
      .orderBy("doc_id")
  }

  /** Exact all-pairs n-gram Jaccard ≥ threshold via inverted-index
    * self-join: |A∩B| from the shingle join, |A| and |B| from per-doc
    * shingle counts; J = c / (na + nb - c) as an exact-int division.
    *
    * Hot-shingle mitigation: shingles appearing in more than `maxDocFreq`
    * documents (boilerplate/template n-grams) are dropped from the shingle
    * space entirely — a DF-c shingle contributes c² rows to the self-join,
    * so one templated phrase at 100 TB is a single straggler task. The cap
    * is applied identically to intersection AND sizes (Jaccard over the
    * filtered space), and the oracle implements the same rule. The DF
    * window shares the shingle hash-partitioning with the self-join, so
    * the cap costs no extra shuffle.
    *
    * Considered and measured: PPJoin-style prefix filtering (index only
    * each doc's ⌊(1−t)·n⌋+1 rarest shingles; verify candidates from
    * per-doc arrays). It is output-identical but benched 2× SLOWER at
    * sf0.1 (5.2 s vs 2.5 s): the DF cap already bounds the join expansion
    * LINEARLY (Σ df² ≤ cap·|index|), so the filter only shrinks a bounded
    * constant while adding a doc-partitioned rank window, a per-doc array
    * materialization, and a second pass over the index. With the cap in
    * place the plain capped join is the better plan at every scale; the
    * sub-quadratic escape hatch for truly huge corpora stays minhashLsh. */
  def ngramJaccard(docs: DataFrame, n: Int = 3, threshold: Double = 0.5,
                   maxDocFreq: Int = 50): DataFrame =
    sharedShingles(docs, n, maxDocFreq)
      .withColumn("jaccard", expr("c / (na + nb - c)"))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), expr("round(jaccard, 6)").as("jaccard"))
      .orderBy("a", "b")

  /** The shared-shingle relation behind [[ngramJaccard]] and
    * [[containment]]: one row per doc pair `a < b` that shares at least
    * one DF-capped shingle, with `c` = |A∩B| and `na`, `nb` = |A|, |B|
    * over the capped shingle space.
    *
    * Cost profile (measured, sf0.1): the capped self-join's pair expansion
    * (Σ df² — 1.1M intersection rows from a 260k-row index) dominates.
    * The expansion IS the exact algorithm's price — the sub-quadratic path
    * at scale is minhashLsh below, same verify core. The DF-capped index
    * is materialized once: it feeds the size relation and BOTH sides of
    * the pair join, and unmaterialized each of the three references re-ran
    * the shingle explode + md5 hashing over the corpus. */
  private def sharedShingles(docs: DataFrame, n: Int, maxDocFreq: Int): DataFrame = {
    val w = Window.partitionBy("shingle")
    val sh = shingleIndex(docs, n)
      .withColumn("df", count(lit(1)).over(w))
      .filter(col("df") <= maxDocFreq)
      .select("doc_id", "shingle")
      .localCheckpoint()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    sh.toDF("a", "shingle")
      .join(sh.toDF("b", "shingle"), "shingle")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("c"))
      .join(sizes.toDF("a", "na"), "a")
      .join(sizes.toDF("b", "nb"), "b")
  }

  /** ASYMMETRIC n-gram CONTAINMENT pairs — the doc-inside-doc detector
    * symmetric Jaccard structurally misses: a short document quoted whole
    * inside a long one scores |A∩B|/|A| = 1 on containment but only
    * |A|/|B| on Jaccard (tiny when lengths differ), so a Jaccard bar never
    * fires. Containment(a→b) = shared distinct shingles / a's distinct
    * shingles; each direction is judged separately and a row is emitted
    * per DIRECTED relation over the threshold — `contained` is the doc
    * whose shingle set is covered (the quote/snippet side; the natural
    * drop candidate), `container` the covering one.
    *
    * Scale shape: identical to [[ngramJaccard]] — one DF-capped inverted
    * shingle index (60-bit hashed, 8-byte shuffle keys), pair enumeration
    * strictly by shingle equi-join (Σ df² expansion, never cartesian); the
    * direction split is a projection of the SAME intersection relation
    * (both directions from one join, not two). Same sub-quadratic escape
    * at scale: [[minhashLsh]]'s banding, with containment verified on the
    * candidate pairs instead of Jaccard. */
  def containment(docs: DataFrame, n: Int = 3, threshold: Double = 0.6,
                  maxDocFreq: Int = 50): DataFrame =
    // both directions from ONE pass over the intersection relation: a
    // 2-element explode per undirected pair, NOT a self-union (a union's
    // branches each rebuild the whole join tree pre-AQE; the explode is a
    // narrow map over rows already in hand)
    sharedShingles(docs, n, maxDocFreq)
      .select(explode(array(
        struct(col("a").as("contained"), col("b").as("container"),
          expr("c / na").as("containment")),
        struct(col("b").as("contained"), col("a").as("container"),
          expr("c / nb").as("containment")))).as("d"))
      .select("d.*")
      .filter(col("containment") >= threshold)
      .select(col("contained"), col("container"),
        expr("round(containment, 6)").as("containment"))
      .orderBy("contained", "container")

  /** Eval-set decontamination — the training-corpus hygiene check every LLM
    * pipeline runs before training: flag training documents that share any
    * word n-gram with a held-out evaluation set (Brown et al. 2020 §C /
    * GPT-3-style 13-gram decontamination, scaled to this corpus's 44-64
    * token docs with n=5). Eval membership here is the deterministic
    * doc_id % evalMod == 0 slice; in production the eval set is an external
    * benchmark table — same plan shape.
    *
    * Per contaminated training doc: its distinct-shingle count, how many
    * shingles are shared with the eval set, how many eval docs it hits, and
    * the contaminated fraction.
    *
    * Scale shape: the eval side of the join is broadcast — eval sets are
    * benchmarks, bounded by construction (thousands of docs), while the
    * training corpus is the 100 TB side. So the corpus is scanned ONCE,
    * narrow (shingle_hash60 emits per-doc distinct 60-bit hashes — 8-byte
    * longs, no string shuffle, no distinct() pass), hits resolve map-side
    * against the broadcast eval index, and the only shuffle is the final
    * partial-agg on doc_id over the (tiny) hit set. */
  def decontaminate(docs: DataFrame, n: Int = 5, evalMod: Int = 11): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val hashed = spread(docs)
      .select(col("doc_id"), expr(s"shingle_hash60(text, $n)").as("sh"))
    val evalSh = hashed.filter(col("doc_id") % evalMod === 0)
      .select(col("doc_id").as("eval_id"), explode(col("sh")).as("shingle"))
    val trainSh = hashed.filter(col("doc_id") % evalMod =!= 0)
      .select(col("doc_id"), expr("size(sh)").as("n_shingles"), explode(col("sh")).as("shingle"))
    trainSh.join(broadcast(evalSh), "shingle")
      .groupBy("doc_id", "n_shingles")
      .agg(countDistinct("shingle").as("n_shared"),
           countDistinct("eval_id").as("n_eval_docs"))
      .select(col("doc_id"), col("n_shingles"), col("n_shared"), col("n_eval_docs"),
        expr("round(n_shared / n_shingles, 6)").as("contaminated_frac"))
      .orderBy("doc_id")
  }

  /** Eval-set n-gram index store — [[decontaminate]]'s incremental twin,
    * following the band/span/paragraph store lifecycle: hash the benchmark
    * table ONCE into a range-clustered 8-byte shingle index, then check
    * every new training shard against the index in O(increment), never
    * re-tokenizing the eval set. In production the eval store is rebuilt
    * only when benchmarks change (releases, not daily), while training
    * shards arrive continuously — the asymmetry this store exploits. */
  def buildEvalStore(evalDocs: DataFrame, storeDir: String, n: Int = 5,
                     numFiles: Int = 8): Unit = {
    graft.functions.GraftFunctions.register(evalDocs.sparkSession)
    val sh = spread(evalDocs)
      .select(col("doc_id").as("eval_id"),
        explode(expr(s"shingle_hash60(text, $n)")).as("shingle"))
    graft.ops.StoreLifecycle.publish(storeDir)(tmp =>
      graft.ops.Scale.clusteredParquet(sh, s"$tmp/evalsh",
        Seq("shingle"), numFiles, "overwrite"))
  }

  /** Probe a training increment against a PRECOMPUTED eval store (see
    * [[buildEvalStore]]): same output schema and semantics as
    * [[decontaminate]] when the store holds the complementary eval slice,
    * so the two share one oracle. The eval index is broadcast (benchmark
    * suites are bounded — thousands of docs, 8 bytes per shingle), so the
    * increment is scanned once, hits resolve map-side, and the only
    * shuffle is the final partial-agg on doc_id over the (tiny) hit set.
    * The eval TEXT is never read — only the hash index. */
  def decontaminateStored(train: DataFrame, storeDir: String, n: Int = 5): DataFrame = {
    val spark = train.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val evalSh = spark.read.parquet(s"$storeDir/evalsh")
    val trainSh = spread(train)
      .select(col("doc_id"), expr(s"shingle_hash60(text, $n)").as("sh"))
      .select(col("doc_id"), expr("size(sh)").as("n_shingles"),
        explode(col("sh")).as("shingle"))
    trainSh.join(broadcast(evalSh), "shingle")
      .groupBy("doc_id", "n_shingles")
      .agg(countDistinct("shingle").as("n_shared"),
           countDistinct("eval_id").as("n_eval_docs"))
      .select(col("doc_id"), col("n_shingles"), col("n_shared"), col("n_eval_docs"),
        expr("round(n_shared / n_shingles, 6)").as("contaminated_frac"))
      .orderBy("doc_id")
  }

  /** FUZZY decontamination — the near-duplicate complement of the exact
    * n-gram [[decontaminate]]: a paraphrased or lightly-edited eval
    * document shares few exact 5-grams with its training twin but keeps
    * Jaccard ≥ threshold over 3-gram shingles, which exact-overlap
    * checking misses. Every TRAIN doc (doc_id % evalMod ≠ 0) near-dup of
    * any EVAL doc (% evalMod = 0) is flagged with its best match
    * (jaccard DESC, eval_id ASC — the triage tie rule). The pair relation
    * IS [[incremental]]'s under the evalMod split (near-dup pairs are
    * symmetric in membership), so the machinery — banded LSH candidate
    * generation, exact-Jaccard verification, 8-byte band shuffles — is
    * one definition, and the established LSH ≡ exact-pairs oracle
    * argument carries over verbatim. */
  def decontaminateFuzzy(docs: DataFrame, threshold: Double = 0.8,
                         evalMod: Int = 11): DataFrame = {
    val bw = Window.partitionBy("train_id")
      .orderBy(col("jaccard").desc, col("eval_id").asc)
    incremental(docs, threshold, evalMod)
      .select(col("hist_id").as("train_id"), col("inc_id").as("eval_id"),
        col("jaccard"))
      .withColumn("rn", row_number().over(bw)).filter(col("rn") === 1)
      .select("train_id", "eval_id", "jaccard")
      .orderBy("train_id")
  }

  /** [[decontaminateFuzzy]] against a PRECOMPUTED band store built over
    * the EVAL slice ([[buildBandStore]] — benchmarks change at releases,
    * not daily, exactly the eval-store asymmetry): every arriving train
    * shard is checked in O(shard), the eval set never re-signatured. The
    * probe is [[incrementalStored]] with the roles read back out —
    * store = eval, incoming = train. */
  def decontaminateFuzzyStored(train: DataFrame, evalBandStoreDir: String,
                               threshold: Double = 0.8): DataFrame = {
    val bw = Window.partitionBy("train_id")
      .orderBy(col("jaccard").desc, col("eval_id").asc)
    incrementalStored(train, evalBandStoreDir, threshold)
      .select(col("inc_id").as("train_id"), col("hist_id").as("eval_id"),
        col("jaccard"))
      .withColumn("rn", row_number().over(bw)).filter(col("rn") === 1)
      .select("train_id", "eval_id", "jaccard")
      .orderBy("train_id")
  }

  /** 32 band signatures (4 rows each) of a 128-wide `sig` column — md5 of
    * each 4-slice; shared by every LSH consumer (including the streaming
    * store probe, [[graft.streaming.DocStreams.dedupAgainstStore]]) so band
    * layouts can never diverge between the batch, incremental,
    * stored-index, and streaming paths. */
  private[graft] val bandSigsExpr: String =
    "transform(sequence(0, 31), b -> md5(array_join(slice(sig, b * 4 + 1, 4), ',')))"

  /** MinHash + banded LSH near-dup detection, verified with exact Jaccard.
    *
    *  - shingle → 60-bit integer via md5 (conv of the first 15 hex digits);
    *  - 128 permutations h_i(x) = (a_i·x + b_i) mod p (p = 1e9+7, a_i/b_i
    *    from an LCG on i) — computed with array ops over the per-doc
    *    shingle-hash array, so the row count never multiplies by 128;
    *  - 32 bands × 4 rows: band signature = md5 of the 4 values; docs
    *    sharing any (band, signature) bucket become candidates
    *    (P[miss | J=0.8] = (1-0.8⁴)³² ≈ 5e-8 — the oracle can therefore be
    *    the exact-Jaccard pair set);
    *  - candidates are verified with exact Jaccard from the shingle sets
    *    (array_intersect on the two docs' arrays — candidate count is tiny
    *    relative to the corpus, so the array join is cheap).
    *
    * `maxBandBucket`: an m-doc near-dup cluster collides on every band, so
    * its pair OUTPUT is inherently Θ(m²) — measured in the sf1 soak, one
    * 80-doc boilerplate family dominated the whole run (BENCH_sf1.json).
    * With the cap set, band buckets holding more than that many docs are
    * dropped before pair enumeration (boilerplate guard, same spirit as
    * ngramJaccard's DF cap): pairs inside mega-clusters are the ones a
    * real pipeline handles via cluster-keeper selection, not exhaustive
    * listing. Default None = exact (the oracle's semantics); the bucket
    * count window shares the (band, bsig) partitioning the join needs, so
    * enabling it adds no extra shuffle. */
  def minhashLsh(docs: DataFrame, threshold: Double = 0.8,
                 maxBandBucket: Option[Int] = None): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // One narrow pass per doc: distinct 60-bit shingle hashes → 128-wide
    // signature (both native codegen'd expressions). No shuffle at all
    // until the band bucket join — the exploded formulation paid an
    // explode+distinct shuffle AND a collect_list shuffle here.
    // Band rows carry ONLY (doc_id, band, bsig): the (band, bsig) shuffle
    // must never replicate the variable-length shingle arrays 32× (that was
    // this operator's dominant shuffle volume — at 100 TB it is 32× the
    // corpus's shingle bytes over the wire). Candidate pairs dedup on the
    // bare (a, b) key; the verification arrays then come from ONE
    // co-partitioned equi-join against the narrow hash relation — the pair
    // is exploded to (pair, member) rows, joined, and folded back with an
    // array-max (exactly one non-null per role), so the corpus's shingle
    // arrays are scanned and shuffled once, not 32×.
    val sig = spread(docs)
      .select(col("doc_id"), expr("shingle_hash60(text, 3)").as("h60"))
      // sub-3-token docs have NO shingles: without this filter they all
      // share the constant empty-array MinHash signature, band-collide,
      // and reach the jaccard with a 0 denominator — the oracle's
      // len(w) >= 3 clause excludes them, and so must the engine
      .filter(expr("size(h60) > 0"))
      .withColumn("sig", expr("minhash_sig(h60)"))
    val allBands = sig.select(col("doc_id"),
      posexplode(expr(bandSigsExpr)).as(Seq("band", "bsig")))
    val bands = maxBandBucket.fold(allBands) { cap =>
      val w = Window.partitionBy("band", "bsig")
      allBands.withColumn("__bc", count(lit(1)).over(w))
        .filter(col("__bc") <= cap).drop("__bc")
    }
    val pairs = bands.select(col("band"), col("bsig"), col("doc_id").as("a"))
      .join(bands.select(col("band"), col("bsig"), col("doc_id").as("b")),
        Seq("band", "bsig"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    val h = spread(docs).select(col("doc_id"), expr("shingle_hash60(text, 3)").as("h60"))
    val cands = pairs
      .select(col("a"), col("b"), explode(array(col("a"), col("b"))).as("doc_id"))
      .join(h, "doc_id")
      .groupBy("a", "b")
      .agg(max(when(col("doc_id") === col("a"), col("h60"))).as("sa"),
           max(when(col("doc_id") === col("b"), col("h60"))).as("sb"))
    cands
      .withColumn("c", expr("size(array_intersect(sa, sb))"))
      .withColumn("jaccard", expr("c / (size(sa) + size(sb) - c)"))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), expr("round(jaccard, 6)").as("jaccard"))
      .orderBy("a", "b")
  }

  /** Edit-distance VERIFIED near-dup pairs — the character-level
    * certificate stage a fuzzy-dedup pipeline runs on its shingle-level
    * candidates: [[minhashLsh]]'s exact-Jaccard-verified pairs, each
    * re-joined to its two texts and scored with the codegen'd built-in
    * Levenshtein, THRESHOLD-BANDED at `maxEdit` (Spark's 3-arg
    * levenshtein early-abandons at O(len · maxEdit) and returns −1
    * beyond — the cap is what makes a character DP affordable per pair
    * at 100 TB; the pair count itself is already LSH-bounded, never
    * all-pairs). The distance separates what shingle Jaccard cannot: a
    * TRUE COPY (small character edit) from a TOKEN REORDERING (same
    * shingle profile, large edit) — verdict = 'copy' when
    * 5·dist ≤ max(len) (an exact integer compare, never a
    * rounded-double boundary flip), else 'reorder' (including beyond the
    * cap, where dist = −1). Oracle: DuckDB's own levenshtein over the
    * exact-Jaccard pair set (band recall at J ≥ 0.8 is 1 − 5e-8 — the
    * [[minhashLsh]] oracle argument), the cap replayed as a CASE. */
  def editDistanceVerified(docs: DataFrame, threshold: Double = 0.8,
                           maxEdit: Int = 64): DataFrame = {
    require(maxEdit >= 1, s"maxEdit $maxEdit must be >= 1")
    // materialize the LSH pair set: its true size lets the planner
    // broadcast it under the text joins instead of exchanging the corpus
    // side twice by estimate
    val pairs = minhashLsh(docs, threshold).localCheckpoint()
    val t = docs.select(col("doc_id"), col("text"))
    // one equi-join per role: the LSH-bounded pair set is tiny relative
    // to the corpus, so each text relation streams through once; the DP
    // itself never crosses an exchange
    pairs
      .join(t.select(col("doc_id").as("a"), col("text").as("ta")), "a")
      .join(t.select(col("doc_id").as("b"), col("text").as("tb")), "b")
      .withColumn("edit_dist",
        levenshtein(col("ta"), col("tb"), maxEdit).cast("bigint"))
      .withColumn("max_len",
        greatest(length(col("ta")), length(col("tb"))).cast("bigint"))
      .withColumn("verdict",
        when(col("edit_dist") >= 0 && col("edit_dist") * 5 <= col("max_len"),
          lit("copy")).otherwise(lit("reorder")))
      .select("a", "b", "jaccard", "edit_dist", "max_len", "verdict")
      .orderBy("a", "b")
  }

  /** The edit-verified DECISION layer: connected components over the
    * 'copy'-verdict edges only — token-reordered near-dups stay OUT of
    * the cluster (a reordering is a different document for training
    * purposes; dropping it as a duplicate loses a distinct word order),
    * so the keeper rule collapses only character-level clone families.
    * Same shape as [[keepers]]: one row per cluster with the kept doc
    * (min doc_id) and member count, O(clusters) output. */
  def editDistanceClusters(docs: DataFrame, threshold: Double = 0.8,
                           maxEdit: Int = 64): DataFrame =
    clusters(editDistanceVerified(docs, threshold, maxEdit)
        .filter(col("verdict") === "copy").select("a", "b"))
      .groupBy("cluster_id")
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_members"))
      .orderBy("cluster_id")

  /** Incremental dedup — the daily-increment shape of a production corpus:
    * flag INCOMING documents that are near-dups of the HISTORICAL corpus
    * (an incoming doc duplicating another incoming doc is minhashLsh's
    * job on the batch; this operator answers "is it already in the
    * store?"). Same LSH machinery: both sides get band signatures, the
    * (band, bsig) equi-join is historical×incoming only, candidates verify
    * with exact Jaccard — so the oracle is the exact cross-side pair set
    * (P[band miss | J≥0.8] ≈ 5e-8).
    *
    * Here the split is the deterministic doc_id % mod slice; in production
    * the historical band index is PRECOMPUTED and stored (it is exactly the
    * `bands` relation below), so a daily run pays only the incoming side's
    * signatures plus one equi-join against the stored index — never a
    * rescan of the store. Emits (incoming, matched historical, jaccard). */
  /** INGEST TRIAGE — the daily front-door decision relation, composing the
    * proven dedup stages into ONE declarative plan: every incoming doc
    * (doc_id % mod = 0) gets its verdict against the historical corpus —
    * `exact` (shares [[exact]]'s 80-char content key with history — in
    * production the Bloom gate answers this before the key join confirms),
    * `near` (≥ `threshold` Jaccard with a historical doc via
    * [[incremental]]'s banded LSH + exact verify; the single BEST match is
    * reported, ties (jaccard DESC, hist_id ASC)), else `fresh`. Exact
    * takes precedence in the verdict, but the near-match columns stay
    * populated when one exists — the audit wants both facts. Catalyst
    * sees the whole composition, so the two stages share the incoming
    * scan; each keeps its own proven scale shape (broadcastable distinct
    * keys, 8-byte band shuffles, never all-pairs). */
  def ingestTriage(docs: DataFrame, threshold: Double = 0.8,
                   mod: Int = 7): DataFrame = {
    val base = spread(docs)
    val hist = base.filter(col("doc_id") % mod =!= 0)
    val inc = base.filter(col("doc_id") % mod === 0)
    val exact = inc
      .select(col("doc_id"), substring(col("text"), 1, 80).as("k"))
      .join(hist.select(substring(col("text"), 1, 80).as("k")).distinct()
        .withColumn("seen", lit(true)), Seq("k"), "left")
      .select(col("doc_id"), coalesce(col("seen"), lit(false)).as("exact_dup"))
    val bw = Window.partitionBy("inc_id")
      .orderBy(col("jaccard").desc, col("hist_id").asc)
    val bestNear = incremental(docs, threshold, mod)
      .withColumn("rn", row_number().over(bw)).filter(col("rn") === 1)
      .select(col("inc_id").as("doc_id"),
        col("hist_id").as("near_hist_id"), col("jaccard"))
    exact.join(bestNear, Seq("doc_id"), "left")
      .select(col("doc_id"),
        triageVerdictCol(col("exact_dup"), col("near_hist_id")).as("verdict"),
        col("near_hist_id"), col("jaccard"))
      .orderBy("doc_id")
  }

  /** ONE definition of the triage verdict — shared by [[ingestTriage]],
    * [[ingestTriageStored]], and the streaming twin
    * ([[graft.streaming.DocStreams.triageStream]]), so the three paths
    * cannot drift: exact takes precedence, near-match columns stay
    * populated regardless (the audit wants both facts). */
  private[graft] def triageVerdictCol(exactDup: Column, nearHistId: Column): Column =
    when(exactDup, "exact")
      .when(nearHistId.isNotNull, "near")
      .otherwise("fresh")

  def incremental(docs: DataFrame, threshold: Double = 0.8, mod: Int = 7): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    def sigBands(side: DataFrame) = {
      val sig = side
        .select(col("doc_id"), expr("shingle_hash60(text, 3)").as("h60"))
        // shingle-less docs never band (see minhashLsh's note — the empty
        // signature is a constant that would collide them all)
        .filter(expr("size(h60) > 0"))
        .withColumn("sig", expr("minhash_sig(h60)"))
      sig.select(col("doc_id"),
        posexplode(expr(bandSigsExpr)).as(Seq("band", "bsig")))
    }
    val base = spread(docs)
    val hist = base.filter(col("doc_id") % mod =!= 0)
    val inc = base.filter(col("doc_id") % mod === 0)
    val pairs = sigBands(hist).select(col("band"), col("bsig"), col("doc_id").as("hist_id"))
      .join(sigBands(inc).select(col("band"), col("bsig"), col("doc_id").as("inc_id")),
        Seq("band", "bsig"))
      .select("inc_id", "hist_id").distinct()
    val h = base.select(col("doc_id"), expr("shingle_hash60(text, 3)").as("h60"))
    pairs
      .join(h.toDF("inc_id", "si"), "inc_id")
      .join(h.toDF("hist_id", "sh"), "hist_id")
      .withColumn("c", expr("size(array_intersect(si, sh))"))
      .withColumn("jaccard", expr("c / (size(si) + size(sh) - c)"))
      .filter(col("jaccard") >= threshold)
      .select(col("inc_id"), col("hist_id"), expr("round(jaccard, 6)").as("jaccard"))
      .orderBy("inc_id", "hist_id")
  }

  /** Materialize the historical side's LSH index — the precompute
    * [[incremental]]'s doc promises. Two relations:
    *
    *  - `bands`  (hist_id, band, bsig): the banded MinHash index, written
    *    range-clustered on (band, bsig) via [[graft.ops.Scale.clusteredParquet]]
    *    so an incoming band probe prunes to the files covering its key range;
    *  - `hashes` (hist_id, sh): the per-doc distinct shingle-hash arrays the
    *    exact-Jaccard verify needs, clustered on hist_id (the verify join key).
    *
    * In production this runs once per store snapshot; every daily run then
    * reads the index, never the historical TEXT, and the day's accepted
    * increment is folded in with [[appendToBandStore]]. */
  def buildBandStore(hist: DataFrame, storeDir: String): Unit =
    graft.ops.StoreLifecycle.publish(storeDir)(tmp =>
      writeBandStore(hist, tmp, mode = "overwrite", numFiles = 8))

  /** The daily loop's second half: after [[incrementalStored]] flags
    * today's increment against the store, append the increment's bands and
    * hashes so TOMORROW's run sees today's docs. Cost is O(increment):
    * only the increment is scanned and hashed (the store's existing files
    * are untouched — spec-asserted by file listing), and each append lands
    * as its own range-clustered file set, so per-file min/max stats stay
    * tight per batch and band-probe file pruning keeps working. When the
    * batch count grows into a small-file problem, [[compactBandStore]]
    * restores the single-snapshot layout in place. */
  def appendToBandStore(increment: DataFrame, storeDir: String,
                        numFiles: Int = 1): Unit =
    graft.ops.StoreLifecycle.withWriterLock(storeDir)(
      writeBandStore(increment, storeDir, mode = "append", numFiles = numFiles))

  /** Store COMPACTION — the third verb of the store lifecycle
    * (build → append daily → compact when the batch count grows into a
    * small-file problem): rewrite the accumulated band/hash file sets as
    * ONE freshly range-clustered set each, restoring the single-snapshot
    * layout ([[buildBandStore]]'s) where every probe key maps to one
    * file's min/max range instead of one per append batch. Pure layout —
    * the row set is untouched (spec-asserted: identical probe relation
    * before/after, exact row counts).
    *
    * Publication rides [[graft.ops.StoreLifecycle.publish]] — the family's
    * one side-directory + atomic-rename discipline. Run it from the same
    * single writer that owns the daily append loop. */
  def compactBandStore(spark: org.apache.spark.sql.SparkSession, storeDir: String,
                       numFiles: Int = 8): Unit =
    graft.ops.StoreLifecycle.publish(storeDir) { tmp =>
      graft.ops.Scale.clusteredParquet(
        readBandStore(spark, storeDir, "bands"), s"$tmp/bands",
        Seq("band", "bsig"), numFiles)
      graft.ops.Scale.clusteredParquet(
        readBandStore(spark, storeDir, "hashes"), s"$tmp/hashes",
        Seq("hist_id"), numFiles)
    }

  /** The band store's relations as [[writeBandStore]] lays them out. Every
    * reader declares them, so planning a probe runs no inference job. */
  private[graft] val bandStoreSchema = Map(
    "bands" -> "hist_id BIGINT, band INT, bsig STRING",
    "hashes" -> "hist_id BIGINT, sh ARRAY<BIGINT>")

  private[graft] def readBandStore(spark: SparkSession, storeDir: String,
                                   relation: String): DataFrame =
    spark.read.schema(bandStoreSchema(relation)).parquet(s"$storeDir/$relation")

  private def writeBandStore(docs: DataFrame, storeDir: String,
                             mode: String, numFiles: Int): Unit = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val sig = spread(docs)
      .select(col("doc_id"), expr("shingle_hash60(text, 3)").as("h60"))
      // shingle-less docs never enter the store (minhashLsh's note)
      .filter(expr("size(h60) > 0"))
      .withColumn("sig", expr("minhash_sig(h60)"))
    val histId = col("doc_id").cast("bigint").as("hist_id")
    graft.ops.Scale.clusteredParquet(
      sig.select(histId, posexplode(expr(bandSigsExpr)).as(Seq("band", "bsig"))),
      s"$storeDir/bands", Seq("band", "bsig"), numFiles, mode)
    graft.ops.Scale.clusteredParquet(
      sig.select(histId, col("h60").as("sh")),
      s"$storeDir/hashes", Seq("hist_id"), numFiles, mode)
  }

  /** [[incremental]] against a PRECOMPUTED band store (see
    * [[buildBandStore]]): the run pays the incoming side's signatures plus
    * one equi-join against the stored index — the historical `documents`
    * text is never rescanned (plan-asserted in PlanSpec: the only
    * documents scans are the incoming side's). Same oracle as
    * [[incremental]] when the store was built from the complementary
    * doc_id % mod slice. At 100 TB this is the shape that matters: the
    * store is ~1% of corpus bytes (8-byte hashes + 32 band keys/doc), and
    * the daily cost is O(increment), not O(store). */
  def incrementalStored(incoming: DataFrame, storeDir: String,
                        threshold: Double = 0.8): DataFrame = {
    val spark = incoming.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val histBands = readBandStore(spark, storeDir, "bands")
    val histHashes = readBandStore(spark, storeDir, "hashes")
    val incSig = spread(incoming)
      .select(col("doc_id"), expr("shingle_hash60(text, 3)").as("h60"))
      // shingle-less docs never probe (minhashLsh's note)
      .filter(expr("size(h60) > 0"))
      .withColumn("sig", expr("minhash_sig(h60)"))
    val incBands = incSig.select(col("doc_id").as("inc_id"),
      posexplode(expr(bandSigsExpr)).as(Seq("band", "bsig")))
    val pairs = histBands.join(incBands, Seq("band", "bsig"))
      .select("inc_id", "hist_id").distinct()
    // verify arrays reuse incSig's hash relation — one definition of the
    // incoming hashing pipeline, and the planner can share the subtree
    val incH = incSig.select(col("doc_id").as("inc_id"), col("h60").as("si"))
    pairs
      .join(incH, "inc_id")
      .join(histHashes, "hist_id")
      .withColumn("c", expr("size(array_intersect(si, sh))"))
      .withColumn("jaccard", expr("c / (size(si) + size(sh) - c)"))
      .filter(col("jaccard") >= threshold)
      .select(col("inc_id"), col("hist_id"), expr("round(jaccard, 6)").as("jaccard"))
      .orderBy("inc_id", "hist_id")
  }

  // ---- triage store: the daily front door's stored composition ----------

  /** TRIAGE STORE — the stored form of the daily front door
    * ([[ingestTriage]]), composing the family's PROVEN stores under one
    * root so the composite never rescans history either:
    *
    *  - `bloom/`   : the [[BloomDedup]] filter over history's content keys
    *                 — the stateless no-join exact GATE;
    *  - `keys/`    : history's distinct 80-char content keys
    *                 ([[BloomDedup.contentKey]] — ONE key definition),
    *                 range-clustered — the exact CONFIRMATION relation the
    *                 gate's rare false positives are filtered against;
    *  - `bands/`, `hashes/` : the band store, laid out exactly as
    *                 [[buildBandStore]] writes them, so
    *                 [[incrementalStored]] probes the SAME root unchanged.
    *
    * One [[graft.ops.StoreLifecycle.publish]] covers all four relations —
    * the whole triage snapshot swaps in atomically, never a root whose
    * exact and near halves disagree about which day they cover. */
  def buildTriageStore(hist: DataFrame, storeDir: String,
                       expectedItems: Long, fpp: Double = 0.01,
                       numFiles: Int = 8): Unit =
    graft.ops.StoreLifecycle.publish(storeDir) { tmp =>
      writeBandStore(hist, tmp, mode = "overwrite", numFiles)
      writeTriageKeys(hist, tmp, mode = "overwrite", numFiles)
      BloomDedup.buildBloomStore(hist, s"$tmp/bloom", expectedItems, fpp)
    }

  /** O(increment) append across all four relations (bands/hashes/keys as
    * their own clustered file sets, the Bloom filter by bitwise OR) — the
    * accepted day folds in so TOMORROW's triage sees today's docs.
    * Disjoint daily batches keep every half exact; a key appearing in two
    * batches only duplicates rows in `keys/`, which the probe's hit-set
    * distinct folds (and [[compactTriageStore]] pays down). Single-writer,
    * like every mutating store verb.
    *
    * NON-ATOMIC across the four relations, made LOUD instead of silent:
    * `append.pending` is written before the first relation and removed
    * after the last, and every probe ([[ingestTriageStored]], the
    * streaming twin) refuses while it exists — a crash mid-append can
    * therefore never serve a root whose exact and near halves disagree
    * about which day they cover (the silent-false-negative torn state).
    * RECOVERY, explicitly: re-run the SAME append (this verb takes over a
    * leftover marker — the four writes are per-key idempotent: re-OR-ing
    * Bloom bits is a no-op, and repeated band/hash/key rows change no
    * verdict because the probes distinct their hit sets and rank one best
    * match), then [[compactTriageStore]] to fold the duplicate rows out
    * of the layout; or rebuild the snapshot. A day that cannot be
    * replayed is a rebuild, as with any lost increment. */
  def appendToTriageStore(increment: DataFrame, storeDir: String,
                          numFiles: Int = 1): Unit =
    graft.ops.StoreLifecycle.withWriterLock(storeDir) {
      val pending = java.nio.file.Paths.get(s"$storeDir/append.pending")
      java.nio.file.Files.write(pending, Array.empty[Byte]) // takes over a leftover
      appendToBandStore(increment, storeDir, numFiles)
      writeTriageKeys(increment, storeDir, mode = "append", numFiles)
      BloomDedup.appendToBloomStore(increment, s"$storeDir/bloom")
      java.nio.file.Files.delete(pending); ()
    }

  /** The torn-append guard every triage probe takes (see
    * [[appendToTriageStore]]): a leftover `append.pending` means the four
    * relations may disagree about which day they cover — fail loudly with
    * the recovery procedure instead of silently under-flagging. */
  private[graft] def requireTriageStoreComplete(storeDir: String): Unit =
    require(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$storeDir/append.pending")),
      s"torn triage append at $storeDir (append.pending left by a crashed " +
        "appendToTriageStore) — re-run the same append, then " +
        "compactTriageStore; or rebuild the snapshot")

  /** Compaction: one freshly clustered layout per relation, every half
    * re-DISTINCTed — appends may legitimately repeat a key across daily
    * batches, and a RE-RUN append (the documented torn-append recovery,
    * see [[appendToTriageStore]]) repeats band/hash rows too; the row SETS
    * are what the probes answer from, so distinct restores the
    * single-snapshot semantics exactly. The Bloom bytes are VALIDATED
    * (meta + `_SUCCESS`, [[BloomDedup.readMeta]]) before being carried
    * over verbatim — a torn embedded snapshot fails HERE, at compact
    * time, not at the next probe (its append is otherwise debt-free:
    * re-OR-ing the same keys is a no-op). */
  def compactTriageStore(spark: org.apache.spark.sql.SparkSession,
                         storeDir: String, numFiles: Int = 8): Unit = {
    // a torn append must be repaired (re-run) BEFORE compacting: the swap
    // would drop the pending marker and bake the disagreement into a
    // clean-looking snapshot
    requireTriageStoreComplete(storeDir)
    graft.ops.StoreLifecycle.publish(storeDir) { tmp =>
      graft.ops.Scale.clusteredParquet(
        readBandStore(spark, storeDir, "bands").distinct(), s"$tmp/bands",
        Seq("band", "bsig"), numFiles)
      graft.ops.Scale.clusteredParquet(
        readBandStore(spark, storeDir, "hashes").distinct(), s"$tmp/hashes",
        Seq("hist_id"), numFiles)
      graft.ops.Scale.clusteredParquet(
        spark.read.parquet(s"$storeDir/keys").distinct(), s"$tmp/keys",
        Seq("k"), numFiles)
      BloomDedup.readMeta(s"$storeDir/bloom") // refuse to copy a torn snapshot
      val src = java.nio.file.Paths.get(s"$storeDir/bloom")
      val dst = java.nio.file.Paths.get(s"$tmp/bloom")
      java.nio.file.Files.createDirectories(dst)
      val listing = java.nio.file.Files.list(src)
      try listing.forEach(p =>
        { java.nio.file.Files.copy(p, dst.resolve(p.getFileName)); () })
      finally listing.close() // Files.list holds a directory fd until closed
    }
  }

  private def writeTriageKeys(docs: DataFrame, storeDir: String,
                              mode: String, numFiles: Int): Unit =
    graft.ops.Scale.clusteredParquet(
      spread(docs)
        .select(BloomDedup.contentKey(col("text")).as("k")).distinct(),
      s"$storeDir/keys", Seq("k"), numFiles, mode)

  /** [[ingestTriage]] against a PRECOMPUTED [[buildTriageStore]] root —
    * the shape the daily front door actually runs at 100 TB, because the
    * in-line composite's two history-sized costs are both gone:
    *
    *  - the EXACT verdict starts from the store's Bloom gate — a
    *    stateless codegen'd predicate over a folded filter literal (no
    *    join, no shuffle, no history scan); only the gate's hits (true
    *    duplicates + fpp-bounded false positives, an increment-bounded
    *    set) form the probe-key relation, which BROADCASTS onto one
    *    narrow scan of `keys/` — history's key relation is never
    *    shuffled, and a Bloom false positive is confirmed away exactly;
    *  - the NEAR verdict is [[incrementalStored]] against the same root —
    *    the incoming side's signatures plus file-pruned store equi-joins,
    *    historical text never rescanned (plan-locked).
    *
    * Output relation ≡ [[ingestTriage]] restricted to the same increment
    * (verdict precedence exact > near > fresh, best near match by
    * (jaccard DESC, hist_id ASC), near columns populated when a match
    * exists) — the in-line composite IS the oracle, so one oracle proves
    * both. */
  /** `maxBroadcastKeys` — the broadcast CEILING guard: the gate-hit key
    * relation is increment-bounded (the Bloom no-false-negative argument),
    * which on a NORMAL day is a few-percent sliver that belongs on the
    * broadcast path; but a backfill day (increment ≥ history) or a
    * high-dup crawl (most of the increment gate-hits) can push it past
    * Spark's broadcast limit and fail the daily front door exactly when
    * it matters. The hit-key count is measured (one narrow O(increment)
    * count of the gate output — no history touched) and above the ceiling
    * BOTH key joins fall back to shuffled equi-joins on `k` (the store's
    * `keys/` relation is already range-clustered on k, so the store side
    * shuffles at most once and the probe file-prunes the same way);
    * verdicts are row-identical either side of the threshold
    * (spec-asserted — the joins compute the same relation, only the
    * physical strategy moves). */
  def ingestTriageStored(incoming: DataFrame, storeDir: String,
                         threshold: Double = 0.8,
                         maxBroadcastKeys: Long = 2000000L): DataFrame = {
    val spark = incoming.sparkSession
    requireTriageStoreComplete(storeDir)
    val probed = BloomDedup.probeStored(incoming, s"$storeDir/bloom")
      .select(col("doc_id"), BloomDedup.contentKey(col("text")).as("k"),
        col("bloom_hit"))
    // no false negatives: only gate hits can be duplicates, so only their
    // keys reach the confirmation join — increment-bounded by the Bloom
    // guarantee, hence broadcastable on a normal day. MATERIALIZED once
    // (keys only — bytes, not documents): the ceiling count and both key
    // joins reuse it, instead of each re-running the Bloom probe over the
    // increment (three passes where one narrow one suffices)
    val probeKeys = probed.filter(col("bloom_hit")).select("k").distinct()
      .localCheckpoint()
    val useBroadcast = probeKeys.count() <= maxBroadcastKeys
    def hinted(df: DataFrame): DataFrame = if (useBroadcast) broadcast(df) else df
    val hits = spark.read.parquet(s"$storeDir/keys")
      .join(hinted(probeKeys), Seq("k"))
      .distinct() // appended batches may repeat a key; fold the hit set
      .withColumn("seen", lit(true))
    val exact = probed
      .join(hinted(hits), Seq("k"), "left")
      .select(col("doc_id"), coalesce(col("seen"), lit(false)).as("exact_dup"))
    val bw = Window.partitionBy("inc_id")
      .orderBy(col("jaccard").desc, col("hist_id").asc)
    val bestNear = incrementalStored(incoming, storeDir, threshold)
      .withColumn("rn", row_number().over(bw)).filter(col("rn") === 1)
      .select(col("inc_id").as("doc_id"),
        col("hist_id").as("near_hist_id"), col("jaccard"))
    exact.join(bestNear, Seq("doc_id"), "left")
      .select(col("doc_id"),
        triageVerdictCol(col("exact_dup"), col("near_hist_id")).as("verdict"),
        col("near_hist_id"), col("jaccard"))
      .orderBy("doc_id")
  }

  /** Connected components over near-dup pairs → (doc_id, cluster_id), each
    * node labelled with its component MINIMUM. Pair lists aren't actionable
    * on their own: the dedup decision ("keep one doc per duplicate GROUP")
    * needs transitive closure — if A~B and B~C, one keeper among {A,B,C},
    * even though A and C never paired. The fixpoint is unique, so every
    * path of [[clustersWithRounds]] yields the same labels. */
  def clusters(pairs: DataFrame): DataFrame = clustersWithRounds(pairs)._1

  /** [[clusters]] plus a round count (spec hook): distributed propagation
    * rounds, plus one for the map-side pass of the production path.
    *
    * `shortcut = true` (production) is a TWO-LEVEL UNION-FIND with min-root
    * merging ([[UnionFind]]):
    *  1. Inside the pair stage, a narrow `mapPartitions` closes each
    *     partition's pairs and emits its spanning forest — one
    *     (node, root) row per node ≠ root. A clique-dense near-dup
    *     partition (a k-clone family is k²/2 pairs; the sf10 keepers
    *     closure read 44.7M of them) collapses map-side to k−1 rows, the
    *     pair relation is scanned once, and task memory is O(distinct
    *     nodes in the partition). The forest is materialized once; its row
    *     count comes from that same job through an accumulator (a task
    *     re-run can only overcount, which picks the distributed path —
    *     same labels).
    *  2. At execute, when the forest has at most `maxLocalEdges` rows
    *     (4M; the spec passes 0 to force the distributed path), one
    *     `coalesce(1)` task runs the same union-find over it and emits
    *     the labels, sorted within that one partition. The
    *     contracted remainder of a near-dup graph is tiny but
    *     chain-shaped, and on chains distributed propagation degrades to
    *     one Spark round per hop (OPTIMIZATION_r15.md,
    *     "Connected-components closure").
    *     Footprint (ADVICE r15): 4M rows reach ≤8M nodes; the primitive
    *     map keeps 17 B/slot at ≤50% load, worst case ~270 MB in one
    *     executor task. Above the ceiling, min-label propagation with
    *     pointer doubling runs over the forest edges, so no path assumes
    *     a bounded task.
    * Building the result runs one Spark job, the forest materialization.
    *
    * `shortcut = false` is the reference the production path is spec'd
    * against: plain one-hop min-label propagation over the raw pairs
    * (~diameter rounds). */
  private[graft] def clustersWithRounds(pairs: DataFrame,
                                        shortcut: Boolean = true,
                                        maxLocalEdges: Long = 4L << 20): (DataFrame, Int) = {
    val ab = pairs.select(col("a"), col("b"))
    def ordered(labels: DataFrame): DataFrame =
      labels.select(col("id").as("doc_id"), col("label").as("cluster_id")).orderBy("doc_id")
    if (!shortcut) {
      val (labels, rounds) = propagateLoop(ab.localCheckpoint(), shortcut = false)
      return (ordered(labels), rounds)
    }
    val spark = pairs.sparkSession
    import spark.implicits._
    val nForest = spark.sparkContext.longAccumulator
    val forest = ab.as[(Long, Long)]
      .mapPartitions { it =>
        val uf = new UnionFind
        it.foreach { case (a, b) => uf.union(a, b) }
        nForest.add(uf.size)
        uf.labels
      }
      .toDF("a", "b")
      .localCheckpoint()
    if (nForest.value <= maxLocalEdges) {
      val local = forest.as[(Long, Long)]
        .coalesce(1)
        .mapPartitions { it =>
          val uf = new UnionFind
          it.foreach { case (a, b) => uf.add(a); uf.add(b); uf.union(a, b) }
          uf.labels
        }
        .toDF("doc_id", "cluster_id")
        // one partition: sorting within it orders the whole result, with
        // no range-partitioning sample job or exchange
        .sortWithinPartitions("doc_id")
      (local, 1)
    } else {
      val (labels, rounds) = propagateLoop(forest, shortcut = true)
      (ordered(labels), rounds + 1)
    }
  }

  /** Min-label propagation to fixpoint over the symmetrized pairs (a, b),
    * with optional pointer doubling (L(u) ← L(L(u)) — the Shiloach-Vishkin
    * shortcut, O(log diameter) rounds; labels only ever decrease, so
    * least() is exact). Each round is one co-partitioned edge-label join +
    * partial-min shuffle, and `localCheckpoint` truncates the growing lineage
    * per round. Returns (id → label, rounds). Convergence is detected by
    * the EXACT decimal sum of labels: the node set is fixed and every
    * per-node label is non-increasing round over round, so the sum is
    * strictly decreasing until the (unique) fixpoint — one aggregate scan
    * of the small label table per round. */
  private def propagateLoop(pairs: DataFrame, shortcut: Boolean): (DataFrame, Int) = {
    val edges = pairs.select(col("a").as("id"), col("b").as("nbr"))
      .unionAll(pairs.select(col("b").as("id"), col("a").as("nbr")))
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val v = df.agg(sum(col("label").cast("decimal(38,0)"))).head().get(0)
      if (v == null) java.math.BigDecimal.ZERO
      else v.asInstanceOf[java.math.BigDecimal]
    }
    var labels = edges.select(col("id"), least(col("id"), col("nbr")).as("label"))
      .groupBy("id").agg(min("label").as("label"))
      .localCheckpoint()
    var prevSum = labelSum(labels)
    var rounds = 0
    var converged = labels.isEmpty
    while (!converged) {
      val prop = edges.join(labels, "id")
        .select(col("nbr").as("id"), col("label"))
        .unionAll(labels)
        .groupBy("id").agg(min("label").as("label"))
      val next =
        if (!shortcut) prop.localCheckpoint()
        else {
          // L(L(u)): every label IS a node id of the same component, so it
          // has its own label row; the left join + coalesce is defensive.
          prop.join(
              prop.select(col("id").as("label"), col("label").as("label2")),
              Seq("label"), "left")
            .select(col("id"),
              least(col("label"), coalesce(col("label2"), col("label"))).as("label"))
            .localCheckpoint()
        }
      val nextSum = labelSum(next)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      labels = next
      rounds += 1
    }
    (labels, rounds)
  }

  /** The full dedup-grouping pipeline: MinHash-LSH near-dup pairs →
    * transitive closure → (doc_id, cluster_id). The keeper rule is then
    * one `min(doc_id) over cluster` away. */
  def minhashClusters(docs: DataFrame, threshold: Double = 0.8): DataFrame =
    clusters(minhashLsh(docs, threshold).select("a", "b"))

  /** The actionable dedup DECISION: one row per duplicate cluster with the
    * kept document (min doc_id — deterministic) and the member count. This
    * is what a corpus build joins against to drop non-keepers; unlike the
    * pair list it stays O(clusters) even when clusters are huge (the
    * m²-pair blowup measured in BENCH_sf1.json never materializes past the
    * LSH stage). One partial-agg shuffle over the cluster labels. */
  def keepers(docs: DataFrame, threshold: Double = 0.8): DataFrame =
    minhashClusters(docs, threshold)
      .groupBy("cluster_id")
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_members"))
      .orderBy("cluster_id")

  /** [[keepers]] with the KEEP-MOST-COMPLETE rule: within each near-dup
    * cluster the kept document is the LONGEST (character length), ties
    * broken by min doc_id — the rule real pipelines use when a clone
    * family is a truncation chain (syndicated copies cut at different
    * paywall points, re-crawls that lost a tail): min-id keeps whichever
    * copy happened to be crawled first, keep-longest keeps the most
    * content. Emits the keeper's length next to the id so the consumer
    * can audit the choice. Same scale shape as [[keepers]]: the
    * row_number window and the member-count aggregation both ride the
    * cluster_id partitioning — one shuffle past the closure. */
  def keepersRanked(docs: DataFrame, threshold: Double = 0.8): DataFrame = {
    val cl = minhashClusters(docs, threshold)
    val withLen = cl.join(
      docs.select(col("doc_id"), length(col("text")).cast("bigint").as("len")),
      "doc_id")
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("len").desc, col("doc_id").asc)
    withLen.withColumn("rn", row_number().over(w))
      .groupBy("cluster_id")
      .agg(max(when(col("rn") === 1, col("doc_id"))).as("keeper_id"),
        max(when(col("rn") === 1, col("len"))).as("keeper_len"),
        count(lit(1)).as("n_members"))
      .orderBy("cluster_id")
  }

  /** [[keepers]]' twin on the EMBEDDING side — the semantic-dedup decision:
    * connected components over [[embeddingCosine]]'s near-parallel pairs
    * (same min-label propagation as [[clusters]]) collapsed to one row per
    * cluster with the kept vec_id (min) and member count. The default
    * threshold matches [[embeddingCosine]]'s — this operator is the
    * decision layer over whatever pair bar the pipeline runs (raise it for
    * strict clone families; the pair stage's cost analysis in
    * [[embeddingCosine]]'s doc applies unchanged). */
  def embeddingKeepers(embeddings: DataFrame, threshold: Double = 0.4): DataFrame =
    clusters(embeddingCosine(embeddings, threshold).select("a", "b"))
      .groupBy("cluster_id")
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_members"))
      .orderBy("cluster_id")

  /** Quantized vectors with per-row norm and list assignment against the
    * `nList` seeded centroids (corpus rows [centroidBase, centroidBase +
    * nList), id order — the [[Similarity.ivfTopK]] determinism discipline),
    * plus the row's ANGLE to its assigned centroid. Shared by
    * [[embeddingCosinePruned]]'s prune and candidate stages. */
  private def assignedWithAngle(embeddings: DataFrame, nList: Int,
                                centroidBase: Int): (DataFrame, Array[Array[Long]]) = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    val q = spread(embeddings)
      .select(col("vec_id"), expr("vec_quantize(embedding)").as("q"))
      .withColumn("nrm", expr("vec_dotl(q, q)"))
    // bounded fold: nList centroid rows -> array literals (coarse
    // quantizers are RAM-resident by design, ≈√n rows even at 10⁹ vectors)
    val cents = q
      .filter(col("vec_id") >= centroidBase && col("vec_id") < centroidBase + nList)
      .orderBy("vec_id").collect()
      .map(r => r.getSeq[Long](1).toArray)
    require(cents.length == nList, s"expected $nList centroids, found ${cents.length}")
    val cq = cents.map(_.mkString("array(", "L,", "L)")).mkString("array(", ", ", ")")
    // native compiled argmax (vec_top_centroid) — one primitive loop of
    // nList·d multiplies per row; the HOF transform-lambda twin it
    // replaces paid nList interpreted frames per row, which dominated the
    // pruned path at √n-scaled nList. Same arithmetic and tie rule.
    val assigned = q
      .withColumn("tc", expr(s"vec_top_centroid(q, $cq)"))
      .withColumn("list", col("tc.list"))
      .withColumn("ang", expr("acos(greatest(-1.0e0, least(1.0e0, tc.cos)))"))
      .drop("tc")
    (assigned, cents)
  }

  /** The tiny (≤ nList(nList+1)/2-row) SURVIVING list-pair relation of the
    * metric prune: centroid-pair angles θ_ij (driver-computed from the
    * folded centroids — exact integer dots, one acos each) joined with the
    * data-derived per-list angular radii, kept iff
    * θ_ij − r_i − r_j ≤ arccos(threshold) + ε. Exposed for the spec that
    * asserts the prune actually prunes on clustered data. */
  private[graft] def prunedListPairs(embeddings: DataFrame, threshold: Double,
                                     nList: Int, centroidBase: Int): DataFrame = {
    val (assigned, cents) = assignedWithAngle(embeddings, nList, centroidBase)
    val spark = embeddings.sparkSession
    import spark.implicits._
    val (keep, _) = survivingTiles(assigned, cents, threshold)
    keep.toDF("i", "j")
  }

  /** Driver-side tile prune: per-list angular radii (one narrow
    * corpus pass folded to ≤nList rows) joined in plain Scala with the
    * driver-computed centroid-pair angles. Returns (surviving unordered
    * list pairs among NON-EMPTY lists, total such pairs) — the second
    * component lets [[embeddingCosinePruned]] detect the no-bind case
    * and fall back. Both relations are ≤ nList(nList+1)/2 rows: coarse
    * quantizers are RAM-resident by design, so this never collects data
    * proportional to the corpus. */
  private def survivingTiles(assigned: DataFrame, cents: Array[Array[Long]],
                             threshold: Double): (Seq[(Int, Int)], Int) = {
    val radii: Map[Int, Double] = assigned.groupBy("list")
      .agg(max(col("ang")).as("r")).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val present = radii.keys.toSeq.sorted
    def theta(i: Int, j: Int): Double = {
      var dot = 0L; var ni = 0L; var nj = 0L
      var d = 0
      while (d < cents(i).length) {
        dot += cents(i)(d) * cents(j)(d)
        ni += cents(i)(d) * cents(i)(d); nj += cents(j)(d) * cents(j)(d)
        d += 1
      }
      val c = dot.toDouble / (math.sqrt(ni.toDouble) * math.sqrt(nj.toDouble))
      math.acos(math.max(-1.0, math.min(1.0, c)))
    }
    // ε absorbs acos ulp error so a borderline qualifying pair can never
    // be pruned; pruning stays conservative (recall-1 proof in
    // [[embeddingCosinePruned]]'s doc)
    val maxAngle = math.acos(math.max(-1.0, math.min(1.0, threshold))) + 1e-9
    val keep = for {
      i <- present; j <- present if i <= j
      if theta(i, j) - radii(i) - radii(j) <= maxAngle
    } yield (i, j)
    (keep, present.length * (present.length + 1) / 2)
  }

  /** [[embeddingCosine]]'s SCALE-PATH twin — the sub-quadratic-by-pruning
    * semantic near-dup pair stage, returning the IDENTICAL exact result
    * (the oracle for this query IS the all-pairs SQL).
    *
    * Why not LSH/IVF *candidate* generation: at a genuine semantic bar
    * (this corpus qualifies pairs at cosine 0.40–0.51, ~64°) any
    * probabilistic bucketing either misses qualifying pairs (SRP recall
    * (1−p^b)^T stays material at useful selectivity) or generates more
    * candidates than the all-pairs scan (the ρ ≈ 0.66 analysis in
    * [[embeddingCosine]]'s doc). This operator instead prunes with a
    * METRIC BOUND that cannot miss: vectors are assigned to their nearest
    * of `nList` seeded centroids; for lists a, b with angular radii r_a,
    * r_b and centroid separation θ_ab, the spherical triangle inequality
    * gives angle(x, y) ≥ θ_ab − r_a − r_b for every x∈a, y∈b — so any
    * list pair with θ_ab − r_a − r_b > arccos(threshold) provably contains
    * NO qualifying pair and is never scored. Recall is 1 by construction;
    * precision work collapses to Σ_{surviving (a,b)} m_a·m_b.
    *
    * At 100×: real embedding corpora are CLUSTERED (that is why semantic
    * dedup works at all) — tight per-list radii prune the vast majority of
    * the nList² block pairs, and nList scales as ≈√n, so scored-pair work
    * is sub-quadratic in practice while staying exact. The adversarial
    * worst case (uniformly random vectors, radii ≈ π/2) degrades to
    * exactly [[embeddingCosine]]'s balanced blocked join — never worse,
    * and inherent: exact threshold-cosine over data with no structure IS
    * Θ(n²·d).
    *
    * ADAPTIVE no-bind fallback: on geometry where the bound cannot kill a
    * single tile — isotropic corpora (radii ≈ π/2: the driver fixture's
    * measured shape) or a threshold angle wider than the cluster gaps —
    * the tile machinery is pure overhead over [[embeddingCosine]]'s
    * balanced blocked join. The tile relation is driver-resident and
    * costs one narrow pass to compute, so this operator INSPECTS it
    * first: if no tile was pruned, it returns the plain blocked join
    * (identical exact result, no broadcast-tile plan). The pruned twin is
    * therefore never materially worse than the exact twin on ANY
    * geometry, and wins where clustering + threshold make the bound bind
    * — the runtime re-plan discipline AQE applies to skew, applied to
    * metric structure.
    *
    * Plan shape (binding case): one narrow assignment pass (corpus never
    * shuffled as vectors until the pair join; assignment is the compiled
    * `vec_top_centroid` loop), one ≤nList-row radius partial-agg folded
    * to the driver, the tiny surviving-pair relation broadcast onto both
    * member streams, and a hash equi-join on the (i, j) block key — the
    * [[embeddingCosine]] tile discipline with provably-empty tiles
    * deleted. */
  def embeddingCosinePruned(embeddings: DataFrame, threshold: Double = 0.4,
                            nList: Int = 16, centroidBase: Int = 100): DataFrame =
    cosinePrunedPath(embeddings, threshold, nList, centroidBase)._1

  /** [[embeddingCosinePruned]] plus which path ran (true = tile-pruned
    * plan, false = no-bind fallback to the blocked join) — exposed for the
    * specs that pin the adaptive decision. */
  private[graft] def cosinePrunedPath(embeddings: DataFrame, threshold: Double,
                                      nList: Int, centroidBase: Int): (DataFrame, Boolean) = {
    val (assigned, cents) = assignedWithAngle(embeddings, nList, centroidBase)
    val (kept, totalTiles) = survivingTiles(assigned, cents, threshold)
    if (kept.length == totalTiles)
      return (embeddingCosine(embeddings, threshold), false)
    val spark = embeddings.sparkSession
    import spark.implicits._
    val keep = kept.toDF("i", "j")
    val left = assigned.select(col("vec_id").as("lid"), col("q").as("lq"),
        col("nrm").as("ln"), col("list").as("i"))
      .join(broadcast(keep), Seq("i"))
    val right = assigned.select(col("vec_id").as("rid"), col("q").as("rq"),
        col("nrm").as("rn"), col("list").as("j"))
      .join(broadcast(keep), Seq("j"))
    val pairs = left.join(right, Seq("i", "j"))
      // same-list tiles meet both orientations; cross-list tiles exactly once
      .filter(col("i") < col("j") || col("lid") < col("rid"))
      .withColumn("dot", expr("vec_dotl(lq, rq)"))
      .withColumn("cosine", expr("dot / (sqrt(CAST(ln AS DOUBLE)) * sqrt(CAST(rn AS DOUBLE)))"))
      .filter(col("cosine") >= threshold)
      .select(least(col("lid"), col("rid")).as("a"), greatest(col("lid"), col("rid")).as("b"),
        expr("round(cosine, 6)").as("cosine"))
      .orderBy("a", "b")
    (pairs, true)
  }

  /** [[embeddingKeepers]]' SCALE-PATH twin — the semantic-dedup DECISION
    * over [[embeddingCosinePruned]]'s exact pair relation: identical
    * clusters, identical keepers (hash-matched by the all-pairs oracle),
    * with the pair stage's quadratic tile work cut down by the metric
    * prune. This is the default a 100-TB corpus build should call. */
  def embeddingKeepersPruned(embeddings: DataFrame, threshold: Double = 0.4,
                             nList: Int = 16, centroidBase: Int = 100): DataFrame =
    clusters(embeddingCosinePruned(embeddings, threshold, nList, centroidBase)
        .select("a", "b"))
      .groupBy("cluster_id")
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_members"))
      .orderBy("cluster_id")

  /** Corpus-source overlap estimation: per-source MinHash UNION sketches →
    * pairwise shingle-set Jaccard estimates. Answers "how much do my crawl
    * dumps / data sources overlap?" BEFORE paying for cross-source pair
    * dedup — the corpus-triage step of a training-data pipeline.
    *
    * The elementwise min of per-doc signatures IS the MinHash signature of
    * the source's shingle-set union (min distributes over set union), so
    * the estimate is the standard matching-component fraction between two
    * 128-component sketches.
    *
    * Scale shape: signatures are one narrow codegen'd pass per doc; the
    * union-min is the `minhash_union` TypedImperativeAggregate — each task
    * folds its docs into ONE 128-long buffer (array-typed partial agg), so
    * the shuffle carries one sketch per (source, task), never a per-doc row
    * (the earlier posexplode formulation materialized 128 rows per doc
    * before the combine — the single biggest line item of the r2 bench);
    * the pair join compares S² sketch pairs of 128 ints (S = #sources,
    * tiny — exploded AFTER the agg so the equi-join on component stays). */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // docs with no shingles (< 3 tokens) carry no set information — drop
    // them BEFORE sketching, else an all-short source would yield an
    // all-MaxValue sketch that spuriously matches other empty sketches
    // (and the oracle, which has no empty-doc rows, would diverge)
    val sigs = spread(docs)
      .select(col("source"), expr("shingle_hash60(text, 3)").as("h"))
      .filter(expr("size(h) > 0"))
      .select(col("source"), expr("minhash_sig(h)").as("sig"))
    val union = sigs
      .groupBy("source").agg(expr("minhash_union(sig)").as("sig"))
      .select(col("source"), posexplode(col("sig")).as(Seq("i", "v")))
    val a = union.toDF("source_a", "i", "va")
    val b = union.toDF("source_b", "i", "vb")
    a.join(b, Seq("i")).filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(sum(when(col("va") === col("vb"), 1L).otherwise(0L)).as("eq"))
      .withColumn("jaccard_est", expr("round(eq / 128, 6)"))
      .select("source_a", "source_b", "jaccard_est")
      .orderBy("source_a", "source_b")
  }

  /** 63-bit SimHash fingerprint per document over distinct tokens, bits
    * derived from each token's md5 (hex digit → int via instr on the hex
    * alphabet — portable to the oracle without conv()). Bit j of the
    * fingerprint is the sign of Σ_tokens (2·bit_j(md5(token)) − 1).
    * Narrow per-row compute, no shuffle.
    *
    * This SQL formulation is the oracle-portable reference; the engine
    * runs the value-identical native `simhash63` expression instead —
    * nested HOF lambdas defeat common-subexpression elimination, so the
    * SQL form re-digests every token once per bit (63× the md5 work),
    * and the pair self-join doubles that. [[graft.DedupSpec]] asserts
    * expression-vs-SQL equality on the corpus. */
  private[graft] val simhashExprSql =
    """aggregate(sequence(0, 62), CAST(0 AS BIGINT), (acc, j) ->
      |  acc + CASE WHEN
      |    aggregate(transform(array_distinct(split(text, ' ')), t -> md5(t)),
      |      CAST(0 AS BIGINT), (s, h) ->
      |        s + 2 * (((instr('0123456789abcdef', substring(h, (j div 4) + 1, 1)) - 1)
      |                  div (CASE j % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END)) % 2) - 1)
      |    > 0 THEN shiftleft(CAST(1 AS BIGINT), j) ELSE CAST(0 AS BIGINT) END)""".stripMargin

  def simhash(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    spread(docs).select(col("doc_id"), expr("simhash63(text)").as("simhash"))
      .orderBy("doc_id")
  }

  /** SimHash near-dup PAIRS with guaranteed recall: candidates come from a
    * 4×16-bit band index — ≤3 bit flips can touch at most 3 of the 4 bands,
    * so every pair at Hamming distance ≤ 3 shares at least one exact band
    * key (pigeonhole; the classic Manku-Jarvelin-Sarma web-dedup layout) —
    * then verified with bit_count(xor). Shuffle is on the band key only;
    * never an all-pairs scan. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   maxBandBucket: Option[Int] = None): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val sh = spread(docs).select(col("doc_id"), expr("simhash63(text)").as("simhash"))
    val allBands = sh.select(col("doc_id"), col("simhash"),
      explode(expr(
        """transform(sequence(0, 3), b ->
          |  concat(b, ':', shiftright(simhash, CAST(b * 16 AS INT)) & 65535))""".stripMargin))
        .as("bkey"))
    // Band-bucket density cap — the [[minhashLsh]] maxBandBucket guard
    // applied to the simhash index: an m-doc template family collides on
    // every band, so pair OUTPUT is inherently Θ(m²); at sf10 the family
    // density made the uncapped pair build the whole soak's bottleneck.
    // Buckets above the cap are boilerplate by construction; their pairs
    // belong to cluster-keeper handling, not exhaustive listing. The
    // count window shares the bkey partitioning the join needs — no
    // extra shuffle. Default None = exact (the oracle's semantics).
    val bands = maxBandBucket.fold(allBands) { cap =>
      val w = Window.partitionBy("bkey")
      allBands.withColumn("__bc", count(lit(1)).over(w))
        .filter(col("__bc") <= cap).drop("__bc")
    }
    bands.select(col("bkey"), col("doc_id").as("a"), col("simhash").as("sa"))
      .join(bands.select(col("bkey"), col("doc_id").as("b"), col("simhash").as("sb")), "bkey")
      .filter(col("a") < col("b"))
      .select("a", "b", "sa", "sb").distinct()
      .withColumn("hamming", expr("CAST(bit_count(sa ^ sb) AS INT)"))
      .filter(col("hamming") <= maxHamming)
      .select("a", "b", "hamming")
      .orderBy("a", "b")
  }

  /** PRECISION/RECALL of the simhash band detector against the exact
    * Jaccard ≥ 0.8 truth, one row per Hamming bar 1..maxHamming — the
    * threshold-TUNING report (the dedup twin of Similarity.recallEval):
    * before running simhash over 100 TB, this is how the bar is picked.
    * Truth comes from [[minhashLsh]] (its banded pair set equals the exact
    * ≥0.8-Jaccard pairs — P[miss] ≈ 5e-8, the same equivalence the
    * dedup_minhash_lsh oracle rests on).
    *
    * Scale shape: both pair generators are the proven band-join paths; the
    * eval itself joins PAIR-sized relations (never corpus-sized), explodes
    * each pair to its qualifying bars (≤ maxHamming copies) BEFORE one
    * partial agg, and left-joins the maxHamming-row bar table onto the
    * aggregate so an empty bar still reports (0, 0) — identical to the
    * oracle's LEFT JOIN, with no nested-loop join anywhere. */
  def simhashPrEval(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    // r15: materialize the truth pair set once — it feeds both the
    // candidate join and the n_truth total, and unmaterialized each
    // reference re-ran the full MinHash-LSH pipeline.
    val truth = minhashLsh(docs).select(col("a"), col("b"), lit(1).as("is_true"))
      .localCheckpoint()
    val joined = simhashPairs(docs, maxHamming)
      .join(truth, Seq("a", "b"), "left")
      .withColumn("is_true", coalesce(col("is_true"), lit(0)))
    val perBar = joined
      .withColumn("bar", explode(expr(s"filter(sequence(1, $maxHamming), x -> x >= hamming)")))
      .groupBy("bar").agg(sum("is_true").as("tp"), sum(expr("1 - is_true")).as("fp"))
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    docs.sparkSession.range(1, maxHamming + 1).toDF("bar")
      .join(perBar, Seq("bar"), "left")
      .withColumn("tp", coalesce(col("tp"), lit(0L)))
      .withColumn("fp", coalesce(col("fp"), lit(0L)))
      .crossJoin(broadcast(nTruth))
      .select(col("bar").cast("int").as("bar"), col("tp"), col("fp"),
        (col("n_truth") - col("tp")).as("fn"),
        expr("CASE WHEN tp + fp > 0 THEN round(tp / (tp + fp), 6) END").as("prec"),
        expr("CASE WHEN n_truth > 0 THEN round(tp / n_truth, 6) END").as("rec"))
      .orderBy("bar")
  }

  /** Embedding-cosine near-dup pairs: vectors quantized to integers
    * (round(x·10⁴)), dot/norms as exact BIGINT sums, cosine as one IEEE
    * division — bit-identical across engines.
    *
    * Pair enumeration is the balanced block-pair (triangle) equi-join —
    * never a nested-loop/cartesian plan node. Vectors hash into `nBlocks`
    * blocks; the pair space is covered exactly once by the B(B+1)/2
    * unordered block pairs (i ≤ j): each row is replicated to its left-role
    * keys (g, j ≥ g) and right-role keys (i ≤ g, g), and a hash equi-join
    * on (i, j) meets exactly the rows of each block pair. Properties at
    * scale: shuffle volume is n·(B+1) rows (tunable replication ≈ √(2·P)
    * for P-way parallelism), every task computes a bounded (n/B)² tile, no
    * single broadcast/nested-loop of the corpus, no skew (blocks are
    * hash-assigned).
    *
    * Exact threshold-cosine over ALL pairs is inherently Θ(n²·d) compute —
    * this operator distributes that work evenly; the sub-quadratic
    * *approximate* path (when the threshold is a true near-dup bar) is the
    * SRP-bucketed [[Similarity.lshTopK]] with this same scoring core. On
    * this corpus the qualifying pairs sit at cosine 0.40-0.51 against a
    * random-pair band-collision probability of ~0.5^r per band — an LSH
    * amplification exponent ρ = ln p₁/ln p₂ ≈ 0.66, i.e. candidate
    * generation would *exceed* the all-pairs scan; the blocked exact join
    * is the honest plan for this threshold. */
  def embeddingCosine(embeddings: DataFrame, threshold: Double = 0.4,
                      nBlocks: Int = 16): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    // quantize ONCE per row — the pair tiles then run a plain long dot
    // (vec_dotq would re-round both vectors for every pair)
    val q = spread(embeddings)
      .select(col("vec_id"), expr("vec_quantize(embedding)").as("q"))
      .withColumn("nrm", expr("vec_dotl(q, q)"))
      .withColumn("g", pmod(hash(col("vec_id")), lit(nBlocks)))
    val left = q.select(col("vec_id").as("lid"), col("q").as("lq"), col("nrm").as("ln"),
        col("g").as("i"), explode(expr(s"sequence(g, ${nBlocks - 1})")).as("j"))
    val right = q.select(col("vec_id").as("rid"), col("q").as("rq"), col("nrm").as("rn"),
        explode(expr("sequence(0, g)")).as("i"), col("g").as("j"))
    left.join(right, Seq("i", "j"))
      // same-block tile: dedupe mirrored orientations by id; cross-block
      // tiles meet each unordered pair exactly once already
      .filter(col("i") < col("j") || col("lid") < col("rid"))
      .withColumn("dot", expr("vec_dotl(lq, rq)"))
      .withColumn("cosine", expr("dot / (sqrt(CAST(ln AS DOUBLE)) * sqrt(CAST(rn AS DOUBLE)))"))
      .filter(col("cosine") >= threshold)
      .select(least(col("lid"), col("rid")).as("a"), greatest(col("lid"), col("rid")).as("b"),
        expr("round(cosine, 6)").as("cosine"))
      .orderBy("a", "b")
  }

  /** EXACT DUPLICATED-SUBSTRING spans — the training-data dedup that exact
    * whole-doc and near-dup hashing both miss: find every `k`-token window
    * whose content ALSO appears in at least one other document, and merge
    * per doc the overlapping/contiguous duplicated windows into maximal
    * spans (the "remove repeated substrings, not repeated documents"
    * operation of substring-level corpus dedup — quoted boilerplate,
    * license headers, syndicated passages).
    *
    * Per doc: total words, duplicated-window count, merged span count,
    * tokens covered by some duplicated span, and the covered fraction —
    * the decision signal for span-level cutting vs doc-level dropping.
    *
    * Scale shape: the corpus-wide work shuffles ONLY the 8-byte 60-bit
    * window hash (same md5-region discipline as [[shingleIndex]], hash
    * emitted in the narrow explode — never the window string); the
    * dup-hash filter is a partial-agg distinct-doc count on that key, the
    * probe joins back co-partitioned on it, and the span merge windows
    * over each doc's DUPLICATED positions only (bounded by matches, not
    * doc length). The per-window hashing is the `shingle_hash60_pos`
    * NATIVE expression (one compiled md5 loop per row; the SQL
    * transform-lambda twin below stays as the oracle-shaped reference,
    * spec-asserted window-identical — the normalize_text discipline).
    * Windows are merged when their token intervals overlap OR touch (gap
    * in start positions ≤ k).
    *
    * Determinism: positions/counts exact integers; ONE final IEEE
    * division; ties impossible (pos is unique per doc). */
  def substringSpans(docs: DataFrame, k: Int = 8): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val base = spread(docs).select(col("doc_id"), col("text"))
      .withColumn("n_words", expr("size(split(text, ' '))").cast("long"))
    val wins = base.filter(col("n_words") >= k)
      .select(col("doc_id"), posexplode(expr(s"shingle_hash60_pos(text, $k)")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("col").as("h"))
      // r15: materialize the window-hash relation — referenced by the
      // duplicate/keeper agg and the hit join(s); each lazy reference
      // re-ran the native window-hash explode over the corpus.
      .localCheckpoint()
    val dup = wins.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select("h")
    val hits = wins.join(dup, "h").select("doc_id", "pos")
    val wo = Window.partitionBy("doc_id").orderBy("pos")
    val spans = hits
      .withColumn("new_span",
        when(col("pos") - lag(col("pos"), 1).over(wo) <= k, 0).otherwise(1))
      .withColumn("span_id", sum(col("new_span")).over(
        wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "span_id")
      .agg(min("pos").as("lo"), max("pos").as("hi"), count(lit(1)).as("nw"))
    val per = spans.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), sum("nw").as("n_dup_windows"),
        sum(col("hi") - col("lo") + k).as("n_dup_tokens"))
    base.select("doc_id", "n_words").join(per, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"))
      .withColumn("dup_frac", expr("round(n_dup_tokens / n_words, 6)"))
      .orderBy("doc_id")
  }

  /** SOURCE-pair SPAN overlap — the exact complement of
    * [[sourceOverlap]]'s minhash estimate: for every source pair, how many
    * DISTINCT k-token window contents appear in BOTH (cross-source
    * boilerplate), each side's own distinct window count, and the overlap
    * coefficient |A∩B| / min(|A|,|B|) — which sources syndicate/mirror
    * each other, exactly, at window granularity.
    *
    * Scale shape: the corpus collapses to the DISTINCT (source, h)
    * incidence set in one partial-agg shuffle of (string, 8-byte) keys —
    * nothing downstream scales with corpus size; the pair enumeration is
    * an equi-self-join ON the window hash (per-hash fan-out bounded by
    * |sources|²), and per-source totals broadcast back. Hashing is the
    * same native `shingle_hash60_pos` pass as [[substringSpans]].
    *
    * Determinism: exact BIGINT counts, ONE IEEE division, (a, b) ordered
    * pairs with a < b. */
  def spanOverlap(docs: DataFrame, k: Int = 8): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // r15: materialize the distinct (source, h) incidence set — the
    // per-source totals and BOTH pair-join sides read it.
    val sh = spread(docs)
      .filter(expr("size(split(text, ' '))") >= k)
      .select(col("source"), explode(expr(s"shingle_hash60_pos(text, $k)")).as("h"))
      .distinct()
      .localCheckpoint()
    val totals = sh.groupBy("source").agg(count(lit(1)).as("n"))
    val pairs = sh.toDF("a", "h")
      .join(sh.toDF("b", "h"), "h")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_shared"))
    pairs
      .join(broadcast(totals.select(col("source").as("a"), col("n").as("n_a"))), "a")
      .join(broadcast(totals.select(col("source").as("b"), col("n").as("n_b"))), "b")
      .withColumn("overlap", expr("round(n_shared / least(n_a, n_b), 6)"))
      .select(col("a"), col("b"), col("n_shared"), col("n_a"), col("n_b"), col("overlap"))
      .orderBy("a", "b")
  }

  /** SPAN-CLEAN curation manifest — [[substringSpans]]' signal ACTIONED
    * into the per-doc decision a corpus build executes: `drop` docs
    * mostly made of corpus-duplicated spans, `cut` the spans out of
    * partially-duplicated docs (`tokens_kept` = words minus span tokens),
    * `keep` clean docs whole — "remove repeated substrings, not repeated
    * documents", as one declarative plan. The threshold compare runs in
    * EXACT integers (2·n_dup_tokens > n_words ⇔ frac > 1/2): a
    * rounded-double compare could flip at the boundary. */
  def spanClean(docs: DataFrame, k: Int = 8): DataFrame =
    substringSpans(docs, k)
      .select(col("doc_id"), col("n_words"), col("dup_frac"),
        when(col("n_dup_tokens") * 2 > col("n_words"), "drop")
          .when(col("n_dup_tokens") > 0, "cut")
          .otherwise("keep").as("action"),
        when(col("n_dup_tokens") * 2 > col("n_words"), lit(0L))
          .otherwise(col("n_words") - col("n_dup_tokens")).as("tokens_kept"))
      .orderBy("doc_id")

  /** SPAN-DEDUP-ONCE — the KEEP-FIRST-OCCURRENCE form of [[spanClean]]
    * (the canonical substring-level corpus dedup of Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better": keep ONE
    * copy of every repeated passage). [[spanClean]] cuts a duplicated
    * span from EVERY doc containing it — a passage duplicated everywhere
    * vanishes from the corpus entirely; here each duplicated `k`-token
    * window KEEPS its content in the lowest doc_id containing it and is
    * cut only from the others, so repeated boilerplate survives exactly
    * once AT THE MANIFEST level. (Within-doc repeats of a window the doc
    * keeps are all kept — the unit of deduplication is cross-DOC
    * occurrence, the paper's semantics.) One stated limit (ADVICE r14):
    * the `drop` rule can still eliminate a KEEPER doc — a doc that keeps
    * some windows but is mostly made of OTHER docs' passages (2·n_cut >
    * n_words via the windows it does NOT keep) drops whole, taking the
    * only surviving copy of the passages it kept with it. That is the
    * [[spanClean]] drop rule applied uniformly (a mostly-duplicated doc
    * is low-value regardless of what it nominally keeps); a build that
    * wants the strict exactly-once invariant executes `cut` surgery on
    * such docs instead of honoring their `drop`.
    *
    * Scale shape: identical to [[substringSpans]] — the per-hash keeper
    * (min doc_id) rides the SAME partial-agg shuffle that already counts
    * distinct docs per window hash (no extra pass, no extra shuffle); the
    * co-partitioned join-back then drops the keeper's own rows before the
    * per-doc span merge, whose window work stays bounded by CUT windows.
    *
    * Determinism: keeper = min(doc_id) is unique; positions/counts exact
    * integers; ONE final IEEE division; the drop/cut threshold compares
    * in exact integers (the [[spanClean]] rule). */
  def spanDedupOnce(docs: DataFrame, k: Int = 8): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val base = spread(docs).select(col("doc_id"), col("text"))
      .withColumn("n_words", expr("size(split(text, ' '))").cast("long"))
    val wins = base.filter(col("n_words") >= k)
      .select(col("doc_id"), posexplode(expr(s"shingle_hash60_pos(text, $k)")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("col").as("h"))
      // r15: materialize the window-hash relation — referenced by the
      // duplicate/keeper agg and the hit join(s); each lazy reference
      // re-ran the native window-hash explode over the corpus.
      .localCheckpoint()
    val dup = wins.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("nd"), min(col("doc_id")).as("keeper"))
      .filter(col("nd") >= 2).select("h", "keeper")
    val hits = wins.join(dup, "h")
      .filter(col("doc_id") =!= col("keeper")) // first occurrence keeps
      .select("doc_id", "pos")
    val wo = Window.partitionBy("doc_id").orderBy("pos")
    val spans = hits
      .withColumn("new_span",
        when(col("pos") - lag(col("pos"), 1).over(wo) <= k, 0).otherwise(1))
      .withColumn("span_id", sum(col("new_span")).over(
        wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "span_id")
      .agg(min("pos").as("lo"), max("pos").as("hi"), count(lit(1)).as("nw"))
    val per = spans.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), sum(col("hi") - col("lo") + k).as("n_cut"))
    base.select("doc_id", "n_words").join(per, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("n_spans"), lit(0L)).as("n_cut_spans"),
        coalesce(col("n_cut"), lit(0L)).as("n_cut_tokens"))
      .withColumn("cut_frac", expr("round(n_cut_tokens / n_words, 6)"))
      .withColumn("action",
        when(col("n_cut_tokens") * 2 > col("n_words"), "drop")
          .when(col("n_cut_tokens") > 0, "cut")
          .otherwise("keep"))
      .withColumn("tokens_kept",
        when(col("n_cut_tokens") * 2 > col("n_words"), lit(0L))
          .otherwise(col("n_words") - col("n_cut_tokens")))
      .orderBy("doc_id")
  }

  /** Span-merge FOLD over a sorted, distinct position array `ps` — ONE
    * definition of [[substringSpans]]' merge rule (consecutive duplicated
    * `k`-windows whose start positions differ by ≤ k coalesce; each span
    * covers hi − lo + k tokens) as a Catalyst `aggregate` HOF, shared by
    * the batch [[spansAgainstStore]] and the streaming twin
    * ([[graft.streaming.DocStreams.spansAgainstStore]]) so the two paths
    * CANNOT diverge (the qualityScoreExpr discipline). Streaming needs
    * the fold form because rank/lag windows are unsupported on streaming
    * DataFrames; the batch path uses the same expression so the
    * differential spec compares logic, not two reimplementations.
    * Returns struct(n_spans BIGINT, n_dup_tokens BIGINT). */
  private[graft] def spanFoldExpr(k: Int, ps: String = "ps"): String =
    s"""aggregate($ps,
       |  named_struct('ns', CAST(0 AS BIGINT), 'tok', CAST(0 AS BIGINT),
       |               'lo', CAST(-1 AS BIGINT), 'hi', CAST(-1 AS BIGINT)),
       |  (a, p) -> CASE
       |    WHEN a.lo < 0 THEN named_struct('ns', CAST(1 AS BIGINT),
       |      'tok', CAST(0 AS BIGINT), 'lo', p, 'hi', p)
       |    WHEN p - a.hi <= $k THEN named_struct('ns', a.ns, 'tok', a.tok,
       |      'lo', a.lo, 'hi', p)
       |    ELSE named_struct('ns', a.ns + CAST(1 AS BIGINT),
       |      'tok', a.tok + a.hi - a.lo + $k, 'lo', p, 'hi', p) END,
       |  a -> CASE WHEN a.lo < 0
       |    THEN named_struct('n_spans', CAST(0 AS BIGINT), 'n_dup_tokens', CAST(0 AS BIGINT))
       |    ELSE named_struct('n_spans', a.ns,
       |      'n_dup_tokens', a.tok + a.hi - a.lo + $k) END)""".stripMargin

  /** WINDOW-HASH STORE lifecycle — the [[buildBandStore]] pattern for
    * substring-span dedup: the historical corpus collapses to its DISTINCT
    * 60-bit `k`-token window hashes (8 bytes per distinct window — ~1% of
    * corpus bytes), range-clustered by `h` so a probe's equi-join prunes
    * store files by min/max stats. Build once; [[appendToSpanStore]] adds
    * each day's increment at O(increment) cost (existing files untouched,
    * each batch its own tight-range file set). Probes tolerate duplicate
    * hashes across appended batches by construction (position sets are
    * collected DISTINCT), so no compaction is ever needed for correctness
    * — only for file-count hygiene. */
  def buildSpanStore(hist: DataFrame, storeDir: String, k: Int = 8,
                     numFiles: Int = 8): Unit =
    graft.ops.StoreLifecycle.publish(storeDir)(tmp =>
      writeSpanStore(hist, tmp, k, "overwrite", numFiles))

  def appendToSpanStore(increment: DataFrame, storeDir: String, k: Int = 8,
                        numFiles: Int = 1): Unit =
    graft.ops.StoreLifecycle.withWriterLock(storeDir)(
      writeSpanStore(increment, storeDir, k, "append", numFiles))

  /** Span-store COMPACTION — [[compactBandStore]]'s discipline for the
    * window-hash index: rewrite the accumulated per-append file sets as
    * ONE freshly range-clustered set, ALSO collapsing the duplicate
    * hashes appends accumulate (probes tolerate them; compaction is when
    * they're paid down). Publication rides
    * [[graft.ops.StoreLifecycle.publish]]. Single-writer, like the daily
    * append. */
  def compactSpanStore(spark: org.apache.spark.sql.SparkSession, storeDir: String,
                       numFiles: Int = 8): Unit =
    graft.ops.StoreLifecycle.publish(storeDir)(tmp =>
      graft.ops.Scale.clusteredParquet(
        spark.read.parquet(s"$storeDir/winhashes").distinct(),
        s"$tmp/winhashes", Seq("h"), numFiles))

  private def writeSpanStore(docs: DataFrame, storeDir: String, k: Int,
                             mode: String, numFiles: Int): Unit = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    graft.ops.Scale.clusteredParquet(
      spread(docs)
        .select(explode(expr(s"shingle_hash60_pos(text, $k)")).as("h"))
        .distinct(),
      s"$storeDir/winhashes", Seq("h"), numFiles, mode)
  }

  /** [[substringSpans]] against a PRECOMPUTED window-hash store — the
    * incremental substring dedup: for each INCOMING doc, which of its
    * `k`-token windows already exist in the historical corpus, merged to
    * maximal spans (same output shape and merge rule as
    * [[substringSpans]]; "duplicated" here means "against the store").
    * The historical text is never rescanned — the probe reads 8-byte
    * hashes only, so the daily cost is O(increment) like
    * [[incrementalStored]].
    *
    * Scale shape: the incoming side pays one narrow native-hash pass; the
    * corpus-wide work is ONE equi-join on the 8-byte hash against the
    * range-clustered store (file-pruned by min/max), then a per-doc fold
    * over its DISTINCT hit positions (bounded by doc length, collected in
    * one partial-agg shuffle on doc_id). Span merging is the shared
    * [[spanFoldExpr]] — identical logic to the streaming twin. */
  def spansAgainstStore(incoming: DataFrame, storeDir: String,
                        k: Int = 8): DataFrame = {
    val spark = incoming.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val store = spark.read.parquet(s"$storeDir/winhashes")
    val base = spread(incoming).select(col("doc_id"), col("text"))
      .withColumn("n_words", expr("size(split(text, ' '))").cast("long"))
    val wins = base.filter(col("n_words") >= k)
      .select(col("doc_id"), posexplode(expr(s"shingle_hash60_pos(text, $k)")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("col").as("h"))
    val per = wins.join(store, "h")
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("pos"))).as("ps"))
      .select(col("doc_id"), size(col("ps")).cast("long").as("n_dup_windows"),
        expr(spanFoldExpr(k)).as("sp"))
    base.select("doc_id", "n_words").join(per, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("sp.n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("sp.n_dup_tokens"), lit(0L)).as("n_dup_tokens"))
      .withColumn("dup_frac", expr("round(n_dup_tokens / n_words, 6)"))
      .orderBy("doc_id")
  }

  /** [[spanDedupOnce]] against the PRECOMPUTED window-hash store — the
    * DAILY keep-first substring dedup at O(increment): HISTORY keeps by
    * definition (a window already in the store was first seen on an
    * earlier day, so the incoming occurrence is cut), and windows NEW to
    * this increment keep-first WITHIN it (lowest incoming doc_id keeps —
    * the in-line [[spanDedupOnce]] rule), so across any sequence of daily
    * runs the UNION of the daily cut manifests equals the in-line
    * [[spanDedupOnce]] manifest on the union corpus whenever ids are
    * arrival-ordered (spec'd: the ≥3-batch composition differential in
    * ExtDedupSpec) — with the same keeper-drop caveat [[spanDedupOnce]]
    * documents.
    * Run [[appendToSpanStore]] on the increment AFTER the probe (the
    * band-store daily loop's order) and the store stays the cumulative
    * first-seen window set.
    *
    * Scale shape: [[spansAgainstStore]]'s probe (one narrow native-hash
    * pass, one 8-byte equi-join against the range-clustered store — the
    * semi side) plus the in-line keeper rule applied ONLY to store-MISS
    * windows (the anti side, bounded by the increment); historical text
    * and hashes are never rescanned beyond the file-pruned equi-join.
    * Span merging is the shared [[spanFoldExpr]] (a (doc,pos)'s hash is
    * either in the store or not, so the two cut sets are disjoint).
    *
    * Determinism: [[spanDedupOnce]]'s (unique min keeper, exact integer
    * threshold, ONE final IEEE division). */
  def spanDedupOnceStored(incoming: DataFrame, storeDir: String,
                          k: Int = 8): DataFrame = {
    val spark = incoming.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val store = spark.read.parquet(s"$storeDir/winhashes")
    val base = spread(incoming).select(col("doc_id"), col("text"))
      .withColumn("n_words", expr("size(split(text, ' '))").cast("long"))
    val wins = base.filter(col("n_words") >= k)
      .select(col("doc_id"), posexplode(expr(s"shingle_hash60_pos(text, $k)")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("col").as("h"))
      // r15: materialize the window-hash relation — referenced by the
      // duplicate/keeper agg and the hit join(s); each lazy reference
      // re-ran the native window-hash explode over the corpus.
      .localCheckpoint()
    val histHits = wins.join(store, Seq("h"), "left_semi").select("doc_id", "pos")
    val fresh = wins.join(store, Seq("h"), "left_anti")
    val dupNew = fresh.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("nd"), min(col("doc_id")).as("keeper"))
      .filter(col("nd") >= 2).select("h", "keeper")
    val newHits = fresh.join(dupNew, "h")
      .filter(col("doc_id") =!= col("keeper")) // first incoming occurrence keeps
      .select("doc_id", "pos")
    val per = histHits.unionByName(newHits)
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("pos"))).as("ps"))
      .select(col("doc_id"), expr(spanFoldExpr(k)).as("sp"))
    base.select("doc_id", "n_words").join(per, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("sp.n_spans"), lit(0L)).as("n_cut_spans"),
        coalesce(col("sp.n_dup_tokens"), lit(0L)).as("n_cut_tokens"))
      .withColumn("cut_frac", expr("round(n_cut_tokens / n_words, 6)"))
      .withColumn("action",
        when(col("n_cut_tokens") * 2 > col("n_words"), "drop")
          .when(col("n_cut_tokens") > 0, "cut")
          .otherwise("keep"))
      .withColumn("tokens_kept",
        when(col("n_cut_tokens") * 2 > col("n_words"), lit(0L))
          .otherwise(col("n_words") - col("n_cut_tokens")))
      .orderBy("doc_id")
  }

  /** The SQL transform-lambda twin of `shingle_hash60_pos` — the
    * oracle-shaped (doc_id, pos, h) window relation, kept ONLY as the
    * spec reference the native expression is asserted against. */
  private[graft] def spanWindowsSql(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n_words", size(col("toks")).cast("long"))
      .filter(col("n_words") >= k)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(1, CAST(n_words AS INT) - ${k - 1}),
           |  i -> struct(CAST(i AS LONG) AS pos,
           |    CAST(conv(substring(md5(array_join(slice(toks, i, $k), ' ')), 1, 15), 16, 10) AS BIGINT) AS h))""".stripMargin)).as("w"))
      .select(col("doc_id"), col("w.pos").as("pos"), col("w.h").as("h"))

  /** PARAGRAPH-LEVEL exact dedup with document reassembly — the C4/CCNet
    * unit-dedup step: cut every document into consecutive `width`-word
    * chunks (the fixture corpus is newline-free, so position-windows stand
    * in for real paragraph boundaries), drop every chunk whose content
    * appears earlier in the corpus (first occurrence by (doc_id,
    * chunk_idx) is the keeper), and emit the per-doc report with the
    * reassembled clean text. Complements [[substringSpans]]: spans find
    * OVERLAPPING duplicated windows for span surgery; this dedups
    * DISJOINT units corpus-wide and rebuilds the document in one pass.
    *
    * Scale shape: chunking is a narrow per-row explode (≤ n_words/width
    * rows per doc); the only exchange is the keeper window keyed on
    * md5(chunk) — content-hash partitioning, the same single-shuffle
    * discipline as [[exact]], and the reassembly groups back on doc_id
    * (second bounded shuffle). Nothing driver-side, no joins. At 100 TB
    * the md5 key distributes uniformly by construction; a hot chunk (the
    * boilerplate paragraph duplicated millions of times) lands one
    * partition but carries only (doc_id, chunk_idx) pairs, not text —
    * the window's input is projected to the key + order columns.
    *
    * Determinism: keeper = row_number() == 1 over (doc_id, chunk_idx) — a
    * total order; reassembly sorts kept chunks by chunk_idx (sort_array on
    * the struct); every count is exact. Oracle replays the identical
    * chunking/window/string_agg in DuckDB and hash-matches. */
  def paragraphs(docs: DataFrame, width: Int = 15): DataFrame = {
    require(width >= 1)
    val chunks = spread(docs)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, CAST((size(toks) + ${width - 1}) / $width AS INT) - 1),
           |  i -> array_join(slice(toks, i * $width + 1, $width), ' '))""".stripMargin)))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"), col("col").as("chunk"))
    // keeper window: key on the content hash so the shuffle carries a
    // 32-hex key instead of arbitrary-width text as the partitioner input
    val rk = Window.partitionBy(md5(col("chunk")))
      .orderBy(col("doc_id").asc, col("chunk_idx").asc)
    chunks.withColumn("rn", row_number().over(rk))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("rn") === 1, 1).otherwise(0)).cast("long").as("n_kept"),
        sum(when(col("rn") > 1, 1).otherwise(0)).cast("long").as("n_dropped"),
        coalesce(array_join(expr(
          "transform(sort_array(collect_list(CASE WHEN rn = 1 THEN struct(chunk_idx, chunk) END)), s -> s.chunk)"),
          " "), lit("")).as("clean_text"))
      .orderBy("doc_id")
  }

  /** The shared (doc_id, chunk_idx, chunk, h) projection of [[paragraphs]]'
    * chunking with the 60-bit content key (first 15 md5 hex digits — the
    * shingle_hash60 portability trick, so the store carries 8-byte keys
    * and the oracle replays the same hex fold). */
  private def paragraphChunks(docs: DataFrame, width: Int): DataFrame =
    spread(docs)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, CAST((size(toks) + ${width - 1}) / $width AS INT) - 1),
           |  i -> array_join(slice(toks, i * $width + 1, $width), ' '))""".stripMargin)))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"), col("col").as("chunk"))
      .withColumn("h", expr("CAST(conv(substring(md5(chunk), 1, 15), 16, 10) AS BIGINT)"))

  /** Paragraph-store BUILD — the [[buildSpanStore]] lifecycle for the
    * disjoint-unit dedup: persist the historical corpus's DISTINCT
    * chunk-hash set, range-clustered on the 8-byte key so probes
    * file-prune. Same single-writer + (caller-side) atomic-publish
    * discipline as the band/span stores; [[appendToParagraphStore]] is
    * the O(increment) daily write, and the span-store compaction shape
    * applies verbatim when appends accumulate duplicate hashes. */
  def buildParagraphStore(hist: DataFrame, storeDir: String, width: Int = 15,
                          numFiles: Int = 8): Unit =
    graft.ops.StoreLifecycle.publish(storeDir)(tmp =>
      writeParagraphStore(hist, tmp, width, "overwrite", numFiles))

  def appendToParagraphStore(increment: DataFrame, storeDir: String, width: Int = 15,
                             numFiles: Int = 1): Unit =
    graft.ops.StoreLifecycle.withWriterLock(storeDir)(
      writeParagraphStore(increment, storeDir, width, "append", numFiles))

  private def writeParagraphStore(docs: DataFrame, storeDir: String, width: Int,
                                  mode: String, numFiles: Int): Unit =
    graft.ops.Scale.clusteredParquet(
      paragraphChunks(docs, width).select("h").distinct(),
      s"$storeDir/pchunks", Seq("h"), numFiles, mode)

  /** INCREMENTAL paragraph dedup against the stored chunk index — the
    * continuous form of [[paragraphs]], completing the stored-index
    * family (bands → spans → paragraphs): an incoming document keeps
    * exactly the chunks whose content hash is ABSENT from the historical
    * store, and is reassembled from them in chunk order. Daily cost is
    * O(increment): the probe is one narrow chunk pass over the new docs
    * plus an 8-byte-key equi-join against the range-clustered store
    * (file-pruned) — historical text is never rescanned. Within-increment
    * duplicates are the batch operator's job (run [[paragraphs]] over the
    * increment first, or append-then-probe the next batch), the same
    * contract [[spansAgainstStore]] documents.
    *
    * The store projection is DISTINCT'd before the join so duplicate
    * hashes accumulated by appends can never fan out probe rows
    * (compaction pays them down; the probe stays correct regardless).
    *
    * Determinism: keep/drop is a pure membership test on the 60-bit
    * content key; reassembly sorts kept chunks by chunk_idx; all counts
    * exact. */
  def paragraphsAgainstStore(incoming: DataFrame, storeDir: String,
                             width: Int = 15): DataFrame = {
    val spark = incoming.sparkSession
    val store = spark.read.parquet(s"$storeDir/pchunks").select("h").distinct()
      .withColumn("hit", lit(1))
    paragraphChunks(incoming, width)
      .join(store, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("hit").isNull, 1).otherwise(0)).cast("long").as("n_kept"),
        sum(when(col("hit").isNotNull, 1).otherwise(0)).cast("long").as("n_dropped"),
        coalesce(array_join(expr(
          "transform(sort_array(collect_list(CASE WHEN hit IS NULL THEN struct(chunk_idx, chunk) END)), s -> s.chunk)"),
          " "), lit("")).as("clean_text"))
      .orderBy("doc_id")
  }
}

/** Union-find over long node ids with MIN-ROOT merging, so every root is
  * its component's minimum: [[Dedup.clustersWithRounds]] runs it per pair
  * partition and again in its single finishing task. Only non-root nodes
  * get a parent entry; a root is recorded only by [[add]] or a self pair
  * (a, a). So [[labels]] after unioning a partition's pairs is that
  * partition's spanning forest (plus self-pair nodes), and after [[add]]
  * of every endpoint it labels every node. Path compression in [[find]];
  * parents live in a primitive [[LongLongMap]]. One instance per task. */
private[graft] final class UnionFind {
  private val parent = new LongLongMap()

  /** Recorded nodes, i.e. the number of rows [[labels]] emits. */
  def size: Int = parent.size

  def find(x: Long): Long = {
    var r = x
    while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
    var c = x
    while (parent.getOrElse(c, c) != r) {
      val n = parent.getOrElse(c, c); parent.update(c, r); c = n
    }
    r
  }

  def add(x: Long): Unit = if (!parent.contains(x)) parent.update(x, x)

  def union(a: Long, b: Long): Unit =
    if (a == b) add(a)
    else {
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent.update(math.max(ra, rb), math.min(ra, rb))
    }

  /** (node, root) per recorded node. The key set is copied first: find's
    * path compression writes values while this emits, and iterating a
    * mutating scala HashMap dropped keys (35 of 47 yielded, r15). */
  def labels: Iterator[(Long, Long)] =
    parent.keysSnapshot.iterator.map(k => (k, find(k)))
}
