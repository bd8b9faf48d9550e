package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic sampling / split assignment for training-data pipelines
  * (SURVEY.md §2.8): every production corpus needs reproducible subsets —
  * train/val/test membership and downsampling decisions that are stable
  * across runs, engines, repartitioning, and incremental rebuilds. RNG
  * sampling (`df.sample`) gives none of that; content-hash bucketing gives
  * all of it.
  *
  * Two independent md5 regions of the id drive the two decisions, so split
  * membership and sample membership are uncorrelated. Everything is a
  * narrow codegen'd projection — zero shuffle at any scale; the summary
  * aggregation is one partial-agg shuffle over (lang, split) — a handful
  * of groups.
  *
  * Determinism-for-oracle: bucket = integer value of an md5 hex region
  * (exact integer shifts in both engines), compared against integer
  * percentages.
  */
object Sampling {

  /** Bucket 0..99 from hex digits [from, from+4) of md5(key) — package-open
    * so the sampled-training paths ([[graft.ext.Similarity]]) share the ONE
    * deterministic bucket definition the oracles replay. */
  private[graft] def bucketExpr(from: Int, key: String = "doc_id"): String =
    s"CAST(conv(substring(md5(CAST($key AS STRING)), $from, 4), 16, 10) AS BIGINT) % 100"

  /** Row-level assignment: `split` (train/val/test by id-hash bucket) and
    * `sampled` (stratum-independent pct downsample flag). Pure projection —
    * no shuffle, no RNG, stable under any physical re-layout. */
  def assignSplits(docs: DataFrame, valPct: Int = 5, testPct: Int = 5,
                   samplePct: Int = 20): DataFrame = {
    require(valPct + testPct < 100, "val + test must leave room for train")
    docs.select(col("doc_id"), col("lang"), col("source"))
      .withColumn("__sb", expr(bucketExpr(1)))
      .withColumn("__pb", expr(bucketExpr(5)))
      .withColumn("split",
        when(col("__sb") < valPct, lit("val"))
          .when(col("__sb") < valPct + testPct, lit("test"))
          .otherwise(lit("train")))
      .withColumn("sampled", (col("__pb") < samplePct).cast("int"))
      .drop("__sb", "__pb")
  }

  /** LEAKAGE-FREE train/val/test split: membership is a hash of the
    * NEAR-DUP CLUSTER id, not the doc id — so a document and its near
    * duplicates always land in the same split. Per-doc hashing (above)
    * silently leaks: a val doc's 95%-identical twin lands in train and the
    * eval score measures memorization, not generalization. This is the
    * split a training corpus actually needs once dedup clusters exist.
    *
    * Mechanics: [[Dedup.minhashClusters]] labels every doc that appears in
    * a ≥threshold near-dup pair with its component-min cluster id; docs in
    * no pair are their own singleton cluster (coalesce to doc_id — id
    * spaces are shared so labels never collide). The split bucket then
    * hashes the CLUSTER id with the same md5-region scheme as
    * [[assignSplits]] — singleton docs get exactly the per-doc behavior,
    * clustered docs move as a unit.
    *
    * Scale shape: the cluster-label table is only the docs that appear in
    * near-dup pairs (≪ corpus, typically low single-digit %), so the left
    * join back to the corpus broadcasts (hinted; AQE would also pick it) —
    * the corpus itself is scanned once and never shuffled; the split
    * assignment is a narrow codegen'd projection on top. The LSH pair
    * pipeline underneath is the already-soaked sub-quadratic path.
    *
    * Leakage invariant (spec-asserted): every cluster maps to exactly one
    * split — `countDistinct(split) == 1` per cluster_id, always. */
  def clusterSplit(docs: DataFrame, valPct: Int = 10, testPct: Int = 10): DataFrame = {
    require(valPct + testPct < 100, "val + test must leave room for train")
    val labels = Dedup.minhashClusters(docs)
    docs.select(col("doc_id"))
      .join(broadcast(labels), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("__sb", expr(bucketExpr(1, key = "cluster_id")))
      .withColumn("split",
        when(col("__sb") < valPct, lit("val"))
          .when(col("__sb") < valPct + testPct, lit("test"))
          .otherwise(lit("train")))
      .drop("__sb")
      .orderBy("doc_id")
  }

  /** Per-(lang, split) membership summary — the corpus-build report card:
    * stratum sizes and how many rows the sample keeps. */
  def splitSummary(docs: DataFrame): DataFrame =
    assignSplits(docs)
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"), sum(col("sampled")).as("n_sampled"))
      .orderBy("lang", "split")

  /** EXACT-quota stratified sample: the `perStratum` docs per language
    * whose md5(doc_id) ranks lowest — deterministic across runs, engines,
    * and physical layout (md5 is a total order, no ties). The percentage
    * variant above gives only expected proportions; eval-set construction
    * ("exactly 50 held-out docs per language") needs exact counts.
    *
    * Scale shape: one shuffle on the stratum key + a per-stratum top-k
    * window. A single giant stratum makes that one task hot — for
    * degenerate strata use the bucket-threshold assignment above, or
    * pre-aggregate a per-partition top-k before the window (not needed at
    * the fixture's stratum counts). */
  def stratifiedSample(docs: DataFrame, perStratum: Int = 50): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(expr("md5(CAST(doc_id AS STRING))"))
    docs.select(col("doc_id"), col("lang"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= perStratum)
      .select(col("lang"), col("rank").cast("int").as("rank"), col("doc_id"))
      .orderBy("lang", "rank")
  }

  /** EPOCH SHUFFLE — the training-order randomization every run needs:
    * each doc lands in one of `nShards` shard files at a deterministic
    * position, keyed by md5(seed:doc_id). Same seed → identical epoch
    * order across runs/engines/layout (reproducible training); new seed →
    * a fresh permutation (the next epoch). A trainer streams shard k in
    * `pos` order; the md5 key decorrelates neighbors, so consecutive
    * samples mix sources/languages without a global sort.
    *
    * Scale shape: the key/shard assignment is a narrow codegen'd
    * projection; position is a per-SHARD rank window — nShards-way
    * parallel (in production nShards = output file count, thousands),
    * never a single global sort. Shard id comes from the first two hex
    * digits (exact integer arithmetic both engines). */
  def epochShuffle(docs: DataFrame, nShards: Int = 8, seed: String = "s42"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard_id")).orderBy(col("k").asc, col("doc_id").asc)
    docs.select(col("doc_id"), expr("size(split(text, ' '))").cast("long").as("n_tokens"))
      .withColumn("k", md5(concat(lit(seed + ":"), col("doc_id").cast("string"))))
      .withColumn("shard_id",
        expr(s"CAST(CAST(conv(substring(k, 1, 2), 16, 10) AS BIGINT) % $nShards AS INT)"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard_id"), col("pos"), col("n_tokens"))
      .orderBy("shard_id", "pos")
  }

  /** SOURCE-BALANCED INTERLEAVE — the training-ORDER verb next to
    * [[epochShuffle]]'s random sharding and Packing's mixture QUOTAS:
    * stride scheduling assigns doc r of source s (1-based, in the
    * deterministic md5 order the sampling family shares) virtual time
    * `vt = r / n_s`, and the schedule is the ascending-vt order — every
    * source is stretched evenly across the whole epoch, so no source
    * clumps at the front or exhausts early, and any prefix of the
    * schedule holds each source's docs in proportion to its size (±1,
    * the stride-scheduling lag bound; spec-asserted). The row order IS
    * the manifest a trainer consumes.
    *
    * Scale shape: per-source rank + count windows (stratum-parallel, the
    * [[stratifiedSample]] discipline — never a global rank window); the
    * final ascending-vt arrangement is a DISTRIBUTED range-partitioned
    * SORT, which scales, precisely NOT a global row_number (which would
    * funnel the corpus through one task — the text_zipf lesson). No
    * joins, nothing driver-side.
    *
    * Determinism: vt is one IEEE division of exact BIGINTs — identical
    * doubles in both engines, so the sort order matches bit-for-bit; ties
    * (equal rationals like 1/2 across sources) break on (source, doc_id);
    * vt is ROUNDED only in the emitted column, never in the sort key. */
  def interleave(docs: DataFrame): DataFrame = {
    val bySrc = org.apache.spark.sql.expressions.Window.partitionBy("source")
    val rk = bySrc.orderBy(md5(col("doc_id").cast("string")).asc, col("doc_id").asc)
    docs.select(col("doc_id"), col("source"))
      .withColumn("src_rank", row_number().over(rk).cast("long"))
      .withColumn("n_src", count(lit(1)).over(bySrc))
      .withColumn("vt", expr("CAST(src_rank AS DOUBLE) / n_src"))
      .orderBy(col("vt").asc, col("source").asc, col("doc_id").asc)
      .select(col("doc_id"), col("source"), col("src_rank"), col("n_src"),
        expr("round(vt, 6)").as("vt"))
  }

  /** DSIR-style IMPORTANCE weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling" — public method): score
    * every document by how much its hashed n-gram distribution looks like
    * a TARGET slice rather than the raw pool. Features are content
    * unigrams + adjacent bigrams, hashed into `dim` buckets (the family's
    * md5 hex[1..4] derivation — no RNG, any engine replays it); each side
    * fits an add-1-smoothed bucket distribution, and a document's weight
    * is Σ_b count_b(doc) · ln(p̂_target(b) / p̂_raw(b)) — the hashed
    * log-likelihood ratio. High weight = target-like (keep / upsample);
    * the caller applies its own quantile or quota downstream (the
    * [[assignSplits]] / quality-budget pattern).
    *
    * The target here defaults to the `doc_id % targetMod == 0` slice —
    * the same deterministic eval-slice convention the decontamination
    * family uses; a real deployment passes its curated target corpus
    * through the same relation.
    *
    * Scale shape: one narrow feature projection (token array built once,
    * bigrams assembled array-side — the [[graft.ext.TextAnalysis.bigramCE]]
    * pattern), one (bucket, side) partial-agg shuffle collapsing to
    * ≤ dim rows, 1-row totals broadcast, the ≤ dim-row log-ratio table
    * BROADCAST back onto the per-doc bucket counts, one per-doc partial
    * agg. The corpus never joins anything corpus-sized.
    *
    * Determinism: bucket counts and totals are exact BIGINTs; p̂-ratios
    * are IEEE divisions in one fixed literal shape; the per-doc
    * Σ count·ln sits orders of magnitude inside round-6 (the
    * [[graft.ext.TextAnalysis.unigramCE]] precedent). */
  def dsirWeights(docs: DataFrame, targetMod: Int = 11,
                  dim: Int = 1024): DataFrame = {
    // r15: materialize the feature relation — the log-ratio fit and the
    // scoring tail both read it, and unmaterialized each reference re-ran
    // the md5 feature explode over the corpus.
    val feats = dsirFeatures(docs, targetMod, dim).localCheckpoint()
    // in-line: the log-ratio table is fit on the SAME corpus, so every
    // doc bucket is covered and the default never fires
    dsirScoreWith(feats, dsirLogRatios(feats, dim), lit(0d))
  }

  /** The per-feature bucket expression over a feature string column —
    * ONE definition of the DSIR hash, shared by the exploded batch
    * relation and the row-local streaming scorer. */
  private[graft] def dsirBucketSql(dim: Int, f: String = "f"): String =
    s"CAST(conv(substring(md5($f), 1, 4), 16, 10) AS BIGINT) % $dim"

  /** The per-doc feature-array expression: unigrams ++ adjacent bigrams.
    * Guarded: Spark's sequence(1, 0) DESCENDS, so a 1-token doc would
    * index element_at(w, 0) — single-token docs contribute unigrams only. */
  private[graft] val dsirFeatArrSql: String =
    """CASE WHEN size(w) < 2 THEN w
      |     ELSE concat(w, transform(sequence(1, size(w) - 1), i ->
      |       concat(element_at(w, i), ' ', element_at(w, i + 1)))) END""".stripMargin

  /** (doc_id, in_target, bucket) — one feature-occurrence row per hashed
    * unigram/bigram. */
  private def dsirFeatures(docs: DataFrame, targetMod: Int, dim: Int): DataFrame = {
    require(dim >= 2 && targetMod >= 2)
    graft.ext.Dedup.spread(docs)
      .select(col("doc_id"), (col("doc_id") % targetMod === 0).as("in_target"),
        expr("split(text, ' ')").as("w"))
      .select(col("doc_id"), col("in_target"),
        explode(expr(dsirFeatArrSql)).as("f"))
      .select(col("doc_id"), col("in_target"),
        expr(dsirBucketSql(dim)).as("b"))
  }

  /** Per-side bucket counts → the ≤ dim-row add-1-smoothed log-ratio
    * table. Exact BIGINT counts; the ratio is one fixed IEEE shape. */
  private def dsirLogRatios(feats: DataFrame, dim: Int): DataFrame = {
    val side = feats.groupBy("b").agg(
      sum(when(col("in_target"), 1L).otherwise(0L)).cast("long").as("tc"),
      sum(when(col("in_target"), 0L).otherwise(1L)).cast("long").as("rc"))
    val tot = side.agg(sum("tc").cast("long").as("tt"), sum("rc").cast("long").as("rt"))
    side.crossJoin(broadcast(tot))
      .select(col("b"), expr(
        s"""ln(((tc + 1) / CAST(tt + $dim AS DOUBLE))
           |   / ((rc + 1) / CAST(rt + $dim AS DOUBLE)))""".stripMargin).as("lr"))
  }

  /** The scoring tail: per-doc bucket counts LEFT-join the broadcast
    * log-ratio table (`defaultLr` fills buckets the table never saw —
    * only possible when serving NEW docs against a stored model), then
    * one per-doc partial agg. */
  private def dsirScoreWith(feats: DataFrame, lr: DataFrame,
                            defaultLr: org.apache.spark.sql.Column): DataFrame =
    feats.groupBy("doc_id", "in_target", "b")
      .agg(count(lit(1)).cast("long").as("c"))
      .join(broadcast(lr), Seq("b"), "left")
      .withColumn("lr", coalesce(col("lr"), defaultLr))
      .groupBy("doc_id", "in_target")
      .agg(sum("c").cast("long").as("n_feats"),
        sum(expr("c * lr")).as("s"))
      .select(col("doc_id"), col("in_target"), col("n_feats"),
        expr("round(s, 6)").as("weight"))
      .orderBy("doc_id")

  /** DSIR importance RESAMPLING — the selection step after
    * [[dsirWeights]], faithful to the paper's Gumbel-top-k: each doc's
    * key is weight/T + Gumbel noise, and the top `frac` of keys is
    * selected. Determinism discipline: the Gumbel uniform comes from an
    * md5 region of the doc id (hex digits [9,12] — independent of the
    * split/sample regions), u = (bucket + 1)/65537 ∈ (0,1), key =
    * weight/T − ln(−ln(u)) — RNG-free, any engine replays it. Selection
    * is a QUANTILE THRESHOLD (the [[graft.ext.Events]] concentration
    * discipline), never a global rank window: one percentile aggregate
    * broadcasts back, selected = key ≥ threshold (ties included). At
    * T → 0 this degenerates to deterministic top-frac by weight; larger
    * T trades fidelity for diversity — the paper's knob. */
  def dsirSample(docs: DataFrame, frac: Double = 0.2, temperature: Double = 1.0,
                 targetMod: Int = 11, dim: Int = 1024): DataFrame = {
    require(frac > 0 && frac < 1 && temperature > 0)
    val keyed = dsirWeights(docs, targetMod, dim)
      .withColumn("u", expr(
        "(CAST(conv(substring(md5(CAST(doc_id AS STRING)), 9, 4), 16, 10) AS BIGINT) + 1) / 65537e0"))
      // lit(), not string interpolation: Double.toString renders 1e-4 as
      // "1.0E-4", which "...e0"-suffixed interpolation turns into the
      // unparseable literal "1.0E-4e0" — lit carries the exact double
      .withColumn("gumbel_key",
        col("weight") / lit(temperature) - expr("ln(0e0 - ln(u))"))
      // r15: materialize the keyed relation — the threshold percentile and
      // the selection projection both read it (two full weight pipelines
      // otherwise; the quantile-threshold shape itself stays skew-free).
      .localCheckpoint()
    val thr = keyed.agg(expr(s"percentile(gumbel_key, ${1 - frac}e0)").as("t"))
    keyed.crossJoin(broadcast(thr))
      .select(col("doc_id"), col("in_target"), col("weight"),
        expr("round(gumbel_key, 6)").as("gumbel_key"),
        (col("gumbel_key") >= col("t")).as("selected"))
      .orderBy("doc_id")
  }

  /** DSIR MODEL STORE — train once (fit the bucket log-ratio table on a
    * reference corpus + target slice), publish atomically, serve every
    * batch after at O(batch): the [[graft.ext.TextAnalysis.buildQualityModelStore]]
    * discipline for the importance-weight model. No append verb on
    * purpose — a fitted distribution has no increment; refit = atomic
    * REBUILD-replace, the swap is the version bump. meta.txt records
    * (dim, targetMod) because serving MUST hash with the trainer's
    * modulus and flag targets with the trainer's slice rule, plus the
    * smoothing totals (tt, rt) so unseen-bucket defaults are the exact
    * add-1 value the table itself would have assigned a zero-count
    * bucket. */
  def buildDsirStore(docs: DataFrame, storeDir: String, targetMod: Int = 11,
                     dim: Int = 1024): Unit = {
    val feats = dsirFeatures(docs, targetMod, dim)
    val side = feats.groupBy("b").agg(
      sum(when(col("in_target"), 1L).otherwise(0L)).cast("long").as("tc"),
      sum(when(col("in_target"), 0L).otherwise(1L)).cast("long").as("rc"))
    val (tt, rt) = {
      val r = side.agg(sum("tc").cast("long"), sum("rc").cast("long")).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val lr = side.select(col("b"), expr(
      s"""ln(((tc + 1) / CAST(${tt}L + $dim AS DOUBLE))
         |   / ((rc + 1) / CAST(${rt}L + $dim AS DOUBLE)))""".stripMargin).as("lr"))
    graft.ops.StoreLifecycle.publish(storeDir) { tmp =>
      val next = java.nio.file.Paths.get(tmp)
      lr.coalesce(1).write.mode("overwrite").parquet(s"$tmp/logratios")
      java.nio.file.Files.write(next.resolve("meta.txt"),
        s"dim=$dim\ntargetMod=$targetMod\ntt=$tt\nrt=$rt\n".getBytes("UTF-8"))
      java.nio.file.Files.write(next.resolve("_SUCCESS"), Array.empty[Byte])
    }
  }

  /** Load the published log-ratio table + its meta — refusing a torn
    * store (the `_SUCCESS`-last publish contract). */
  def loadDsirStore(spark: org.apache.spark.sql.SparkSession,
                    storeDir: String): (DataFrame, Int, Int, Long, Long) = {
    val meta = graft.ops.StoreLifecycle.readMeta(storeDir)
    (spark.read.parquet(s"$storeDir/logratios"),
      meta("dim").toInt, meta("targetMod").toInt,
      meta("tt").toLong, meta("rt").toLong)
  }

  /** Score ANY docs against the PUBLISHED model — zero fitting work, one
    * broadcast join of the ≤ dim-row stored table over one input scan.
    * Same relation as [[dsirWeights]] when the store was fit on the same
    * corpus — one oracle proves fit, publish, and serve. */
  def scoreAgainstDsirStore(docs: DataFrame, storeDir: String): DataFrame = {
    val (lr, dim, targetMod, tt, rt) = loadDsirStore(docs.sparkSession, storeDir)
    dsirScoreWith(dsirFeatures(docs, targetMod, dim), lr,
      expr(s"ln(((0 + 1) / CAST(${tt}L + $dim AS DOUBLE)) / ((0 + 1) / CAST(${rt}L + $dim AS DOUBLE)))"))
  }

  /** Fold the stored table to a driver map (≤ dim entries — the trained-
    * quantizer literal-fold discipline) for the streaming scorer. */
  def foldDsirLogRatios(lr: DataFrame): Map[Long, Double] =
    lr.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  /** The stateless row-local DSIR scorer over FOLDED log-ratios — the
    * streaming twin's engine: the feature array assembles INSIDE the row
    * (same [[dsirFeatArrSql]] definition), buckets hash with the same
    * expression, and one ordered aggregate() fold over the map literal
    * scores the doc — no explode, no join, no shuffle, no state.
    * Differentially spec'd ≈ the batch broadcast-join scorer (the
    * ln-terms are IDENTICAL doubles; only the summation order differs,
    * so agreement is to float round-off under round-6 — unlike the
    * integer quality model, exact-equality cannot be promised and the
    * spec asserts a 2e-6 bound). */
  private[graft] def dsirScoreCols(docs: DataFrame, lrMap: Map[Long, Double],
                                   dim: Int, targetMod: Int,
                                   defaultLr: Double): DataFrame = {
    require(dim >= 2 && targetMod >= 2)
    val lrLit =
      if (lrMap.isEmpty) expr(s"map(-1L, ${defaultLr}d)")
      else map(lrMap.toSeq.sortBy(_._1)
        .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    docs
      .withColumn("w", expr("split(text, ' ')"))
      .withColumn("__fa", expr(dsirFeatArrSql))
      .withColumn("__bs", expr(s"transform(__fa, f -> ${dsirBucketSql(dim)})"))
      .withColumn("in_target", col("doc_id") % targetMod === 0)
      .withColumn("n_feats", expr("CAST(size(__fa) AS BIGINT)"))
      .withColumn("weight", round(aggregate(col("__bs"), lit(0d),
        (acc, b) => acc + coalesce(element_at(lrLit, b), lit(defaultLr))), 6))
      .drop("w", "__fa", "__bs")
  }
}
