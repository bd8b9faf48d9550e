package graft

/** Deterministic ~10×-of-sf0.1 soak fixture generator for the dedup/ANN
  * heavy hitters (`documents` + `embeddings`) plus, since r7, an `events`
  * table mirroring the driver fixture's density (so the events family —
  * previously "no /tmp soak fixture" in BENCH_sf10's note — soaks too),
  * and, since r8, two extra embedding geometries: `embeddings_iso`
  * (the driver fixture's measured isotropic-plus-clones shape — the
  * default `embeddings` table's tight 10-cluster noise is an
  * output-quadratic stress regime, NOT a shape mirror; see the inline
  * notes) and `embeddings_tight` (√n well-separated clusters — the
  * regime where the metric-pruned dedup twins' bound provably binds).
  * Usage: `runMain graft.SoakGen /tmp/sf1 [docs] [vecs] [events]`.
  *
  * Mirrors the driver fixture's measured shape (sf0.1: 5,000 docs over a
  * 31-word vocab, ~54 tokens/doc, 5 langs, 20 sources, seeded exact +
  * near-dup clusters; 2,000 embeddings = 10 cluster centroids + noise in
  * 64-d) so operator cost curves — shingle DF distribution, LSH band
  * collision rates, block-pair tile sizes — scale the way the real corpus
  * would, rather than replaying the same 5,000 docs 10× (which would
  * explode every pair operator with artificial full-dup clusters).
  *
  * All randomness is a counter-based LCG on (seed, index): rows are
  * generated distributed, and re-running is bit-identical.
  */
object SoakGen extends Serializable {
  // 31-word vocab in the fixture's style (SQL-engine terms)
  private val vocab = Array(
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "agg", "filter",
    "join", "shuffle", "merge", "read", "write", "plan", "query", "stage",
    "task", "row", "key", "page", "index", "cache", "limit")
  private val langs = Array("en", "en", "en", "en", "en", "en", "en", "en",
    "de", "de", "de", "zh", "zh", "zh", "fr", "fr", "fr", "es", "es", "es")

  /** splitmix64-style finalizer: a plain double-LCG is affine (x·A²+c), so
    * ids at fixed strides produced IDENTICAL mod-31 token streams — 80-doc
    * phantom "families" in the first fixture cut. The xor-shift-multiply
    * mixing breaks the linear structure. */
  @inline private[graft] def rand(seed: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i * 0xC2B2AE3D27D4EB4FL + 0x632BE59BD9B4E019L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)) >>> 1 // non-negative
  }

  private[graft] def nTokensOf(id: Long): Int = 44 + (rand(id, 0) % 21).toInt // 44..64
  private def isOrganic(id: Long): Boolean = id < 100 || rand(id, 1) % 100 >= 6
  private def organicSource(id: Long, slot: Long): Long = {
    var src = id - 1 - (rand(id, slot) % 100)
    while (!isOrganic(src)) src -= 1 // organics are ~94% — short scan
    src
  }

  private[graft] def docText(id: Long, nTokens: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < nTokens) {
      if (i > 0) sb.append(' ')
      sb.append(vocab((rand(id * 131L + 7L, i) % vocab.length).toInt))
      i += 1
    }
    sb.toString
  }

  /** Wide-vocabulary twin of [[docText]]: tokens drawn Zipf-ishly from a
    * synthetic 100k-word space (square the mix so low ids dominate, the
    * way real vocabulary does). The 31-word fixture makes every winnow
    * print collide with the store — range pruning never binds and the
    * stored probe honestly measures ≈ parity (r10's receipt). Real corpora
    * have ~1e5-1e6 word forms, where an increment's print set touches a
    * tiny fraction of the store's key space — this table is that regime. */
  private[graft] def wideDocText(id: Long, nTokens: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < nTokens) {
      if (i > 0) sb.append(' ')
      val r = rand(id * 137L + 13L, i)
      sb.append('w').append(((r % 317) * (r % 331)) % 100000L)
      i += 1
    }
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/sf1")
    val nDocs = if (args.length > 1) args(1).toInt else 50000
    val nVecs = if (args.length > 2) args(2).toInt else 20000
    val spark = GraftSession()
    import spark.implicits._

    // documents: ~4% of ids clone an earlier ORGANIC doc exactly, a further
    // ~2% mutate one (one token changed — J stays ≥ ~0.8 for LSH pairs).
    // Clone sources are restricted to organic (non-clone) docs so clusters
    // stay root + direct clones: chained cloning produced 80-member prefix
    // families whose Σm² candidate pairs dwarf the fixture's real dup
    // topology (largest sf0.1 cluster: 4 docs).
    val docs = spark.range(0, nDocs, 1, 32).map { id =>
      val roll = rand(id, 1) % 100
      val text =
        if (id >= 100 && roll < 4) { // exact clone, source's own length
          val src = organicSource(id, 2)
          docText(src, nTokensOf(src))
        } else if (id >= 100 && roll < 6) { // near-dup: one token swapped
          val src = organicSource(id, 3)
          val words = docText(src, nTokensOf(src)).split(" ")
          val k = (rand(id, 4) % words.length).toInt
          words(k) = vocab((rand(id, 5) % vocab.length).toInt)
          words.mkString(" ")
        } else docText(id, nTokensOf(id))
      val lang = langs((rand(id, 6) % langs.length).toInt)
      val source = s"src${rand(id, 7) % 20}"
      (id, text, lang, source, text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$out/documents.parquet")

    // documents_widevocab: the same doc topology (sizes, clone/near-dup
    // seeding, langs, sources) over the 100k-word space — the winnow/print
    // stores' realistic-vocabulary fixture (see wideDocText's note).
    val wideDocs = spark.range(0, nDocs, 1, 32).map { id =>
      val roll = rand(id, 1) % 100
      val text =
        if (id >= 100 && roll < 4) {
          val src = organicSource(id, 2)
          wideDocText(src, nTokensOf(src))
        } else if (id >= 100 && roll < 6) {
          val src = organicSource(id, 3)
          val words = wideDocText(src, nTokensOf(src)).split(" ")
          val k = (rand(id, 4) % words.length).toInt
          val r = rand(id * 139L + 17L, k)
          words(k) = "w" + (((r % 317) * (r % 331)) % 100000L)
          words.mkString(" ")
        } else wideDocText(id, nTokensOf(id))
      val lang = langs((rand(id, 6) % langs.length).toInt)
      val source = s"src${rand(id, 7) % 20}"
      (id, text, lang, source, text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    wideDocs.write.mode("overwrite").parquet(s"$out/documents_widevocab.parquet")

    // embeddings: 10 centroids in 64-d; vector = centroid + noise; ~1% of
    // ids clone an earlier vector with tiny noise (cosine ≥ ~0.99 pairs)
    val vecs = spark.range(0, nVecs, 1, 32).map { id =>
      val label = (rand(id, 10) % 10).toInt
      val base = (0 until 64).map { d =>
        val c = ((rand(1000L + label, d) % 2001) - 1000) / 1000.0f // centroid
        val noise = ((rand(id * 17L + 3L, d) % 2001) - 1000) / 2500.0f
        c + noise
      }.toArray
      (id, base, label)
    }.toDF("vec_id", "embedding", "label")
    vecs.write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // embeddings_iso: the DRIVER fixture's measured embedding geometry.
    // The default `embeddings` table above is NOT that mirror: its ±0.4
    // noise against ±1.0 centroids leaves intra-cluster cosine ≈ 0.85, so
    // at the 0.4 dedup bar EVERY intra-cluster pair qualifies — ~10% of
    // all pairs, an output-quadratic stress regime 250× denser than the
    // driver fixture (measured sf0.1: qualifying fraction ≈ 9e-4, label
    // carries almost no cosine signal — effectively isotropic + clones).
    // Keep both: `embeddings` stresses output-bound paths, this table is
    // the shape-faithful mirror for pair-sparse operators. Noise ±2.5
    // dominates the ±1.0 centroid (cos intra ≈ 0.14 ± 0.1), matching the
    // driver's borderline-qualifying tail.
    val iso = spark.range(0, nVecs, 1, 32).map { id =>
      val label = (rand(id, 10) % 10).toInt
      val roll = rand(id, 40) % 100
      val srcId: Long = if (id >= 100 && roll < 1) id - 1 - (rand(id, 41) % 99) else id
      val nz = if (srcId != id) 50000.0f else 400.0f // clones: tiny perturbation
      val base = (0 until 64).map { d =>
        val c = ((rand(1000L + label, d) % 2001) - 1000) / 1000.0f
        val noise = ((rand(srcId * 17L + 3L, d) % 2001) - 1000) / 400.0f
        val jitter = ((rand(id * 29L + 5L, d) % 2001) - 1000) / nz
        c + noise + (if (srcId != id) jitter else 0.0f)
      }.toArray
      (id, base, label)
    }.toDF("vec_id", "embedding", "label")
    iso.write.mode("overwrite").parquet(s"$out/embeddings_iso.parquet")

    // embeddings_tight: the clustered regime semantic near-dup dedup is
    // DESIGNED for — C = ⌈√nVecs⌉ well-separated clusters (round-robin
    // id mod C, so seed rows [0, C) cover every cluster exactly once:
    // centroidBase = 0, nList = C), tiny ±0.08 noise (angular radius
    // ≈ 5-10°, intra cosine ≥ ~0.97). At a 0.8 bar the metric prune's
    // tile bound binds on nearly every cross-cluster tile while the
    // qualifying relation stays intra-only (~√n members per cluster) —
    // the crossover fixture for the pruned-vs-exact twins.
    val nTightC = math.ceil(math.sqrt(nVecs.toDouble)).toInt
    val tight = spark.range(0, nVecs, 1, 32).map { id =>
      val label = (id % nTightC).toInt
      val base = (0 until 64).map { d =>
        val c = ((rand(5000L + label.toLong * 31L, d) % 2001) - 1000) / 1000.0f
        val noise = ((rand(id * 17L + 3L, d) % 2001) - 1000) / 12500.0f
        c + noise
      }.toArray
      (id, base, label)
    }.toDF("vec_id", "embedding", "label")
    tight.write.mode("overwrite").parquet(s"$out/embeddings_tight.parquet")

    // events: the driver fixture's measured shape scaled — ~67 events/user
    // (sf0.1: 100k events / 1,500 users over a 30-day January), 5 types
    // uniform, value in [0, 100) with 2 decimals, tiny JSON props. User
    // COUNT scales with volume while per-user density stays constant, so
    // per-user window costs scale the way a real product's would (more
    // users, not deeper histories).
    val nEvents = if (args.length > 3) args(3).toInt else nDocs * 20
    val eventTypes = Array("view", "click", "purchase", "signup", "error")
    val nUsers = math.max(150L, nEvents / 67L)
    val baseMs = 1704067200000L // 2024-01-01 00:00 UTC
    val events = spark.range(0, nEvents.toLong, 1, 32).map { id =>
      val ts = new java.sql.Timestamp(baseMs + rand(id * 13L + 11L, 0) % (30L * 86400000L))
      val user = rand(id, 20) % nUsers
      val typ = eventTypes((rand(id, 21) % eventTypes.length).toInt)
      val value = (rand(id, 22) % 10000) / 100.0
      (id, ts, user, typ, value, s"""{"plan":"p${rand(id, 23) % 3}"}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    events.write.mode("overwrite").parquet(s"$out/events.parquet")

    println(s"""{"out":"$out","docs":$nDocs,"vecs":$nVecs,"events":$nEvents,"tight_clusters":$nTightC}""")
    spark.stop()
  }
}
