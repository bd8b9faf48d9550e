package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ext.Dedup

class ExtDedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def docsDf(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))

  test("exact dedup keeps min doc_id per 80-char-prefix key and counts copies") {
    val pad = "x" * 90
    val df = docsDf(1L -> s"$pad tail-one", 2L -> s"$pad tail-two", 3L -> "different")
    val out = Dedup.exact(df).collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 3L))
    assert(out.find(_.getLong(0) == 1L).get.getAs[Long]("n_copies") === 2L)
  }

  test("ngramJaccard: identical docs pair at 1.0, disjoint docs absent") {
    val df = docsDf(
      1L -> "one two three four five six",
      2L -> "one two three four five six",
      3L -> "alpha beta gamma delta epsilon zeta")
    val out = Dedup.ngramJaccard(df).collect()
    assert(out.length === 1)
    assert(out.head.getLong(0) === 1L && out.head.getLong(1) === 2L)
    assert(out.head.getAs[Double]("jaccard") === 1.0)
  }

  test("ngramJaccard: 4-of-5-shared-shingles doc pair scores 4/6") {
    // texts of 7 tokens share tokens 1..6 → shingle sets of size 5 overlap in 4
    val df = docsDf(
      1L -> "a b c d e f g",
      2L -> "a b c d e f h")
    val out = Dedup.ngramJaccard(df, threshold = 0.5).collect()
    assert(out.length === 1)
    assert(math.abs(out.head.getAs[Double]("jaccard") - 4.0 / 6.0) < 1e-6) // output is round(·, 6)
  }

  test("minhashLsh equals exact ngramJaccard at threshold 0.8 on real docs") {
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
    val lsh = Dedup.minhashLsh(docs).collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val exact = Dedup.ngramJaccard(docs, threshold = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(lsh.toSeq === exact.toSeq)
    assert(lsh.nonEmpty) // sf0.001 does contain near-dup pairs
  }

  test("decontaminateFuzzy flags a one-token-edited eval twin the exact 5-gram check underweights; stored probe equals in-line") {
    // 50 distinct tokens -> 48 shingles; one mid-doc swap changes 3 of
    // them: J = 45/51 = 0.882 >= 0.8. Doc 0 is eval (0 % 11 == 0); doc 5
    // is its edited training twin; doc 7 shares nothing.
    val toks = (1 to 50).map(i => s"tok$i")
    val base = toks.mkString(" ")
    val near = toks.updated(24, "EDITED").mkString(" ")
    val df = docsDf(0L -> base, 5L -> near, 7L -> "alpha beta gamma delta epsilon zeta")
    val out = Dedup.decontaminateFuzzy(df).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((5L, 0L)))
    assert(math.abs(out.head.getDouble(2) - 45.0 / 51.0) < 1e-5)
    // stored = band store over the eval slice, probed by the train slice
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
    val basepath = java.nio.file.Files.createTempDirectory("fuzzdecon").toString
    Dedup.buildBandStore(docs.filter(col("doc_id") % 11 === 0), s"$basepath/s")
    val stored = Dedup.decontaminateFuzzyStored(
      docs.filter(col("doc_id") % 11 =!= 0), s"$basepath/s").collect().map(_.toSeq).toSeq
    val inline = Dedup.decontaminateFuzzy(docs).collect().map(_.toSeq).toSeq
    assert(stored === inline)
    assert(inline.nonEmpty, "fixture must contain fuzzy train-eval contamination")
  }

  test("decontaminate flags exactly the train docs sharing an n-gram with the eval slice") {
    // evalMod=11 → doc 0 and 11 are eval. Doc 12 shares doc 0's opening
    // 5-gram; doc 13 is clean; doc 14 shares a 5-gram with BOTH eval docs'
    // common tail phrase.
    val tail = "common tail phrase shared here"
    val df = docsDf(
      0L  -> s"alpha beta gamma delta epsilon unique0 $tail",
      11L -> s"zeta eta theta iota kappa unique11 $tail",
      12L -> "alpha beta gamma delta epsilon other words trailing",
      13L -> "totally clean document with no overlap at all",
      14L -> s"prefix words here then $tail")
    val out = Dedup.decontaminate(df).collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq === Seq(12L, 14L))
    val hit14 = out.find(_.getAs[Long]("doc_id") == 14L).get
    assert(hit14.getAs[Long]("n_eval_docs") === 2L) // tail 5-gram in both
    val hit12 = out.find(_.getAs[Long]("doc_id") == 12L).get
    assert(hit12.getAs[Long]("n_eval_docs") === 1L)
    assert(hit12.getAs[Long]("n_shared") === 1L)    // just the opening 5-gram
  }

  test("decontaminate is stable under repartitioning (broadcast side unaffected)") {
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
    val a = Dedup.decontaminate(docs).collect()
    val b = Dedup.decontaminate(docs.repartition(7)).collect()
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
    assert(a.nonEmpty) // the sf corpus has near-dup families crossing the slice
  }

  test("incremental flags incoming-vs-historical near-dups, never within-side pairs") {
    // mod=7: doc 7 and 14 are incoming, others historical. Doc 7 duplicates
    // historical doc 1; docs 7 and 14 duplicate EACH OTHER (within incoming
    // — must not appear); doc 14 has no historical match.
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val b = "uno dos tres cuatro cinco seis siete ocho nueve diez once doce"
    val out = Dedup.incremental(docsDf(
      1L -> a, 2L -> "totally different historical words here now ok fine yes",
      7L -> a, 14L -> b, 21L -> b)).collect()
    // 7↔1 (cross-side); 14↔21? 21 % 7 == 0 → also incoming → excluded
    assert(out.map(r => (r.getAs[Long]("inc_id"), r.getAs[Long]("hist_id"))).toSeq
      === Seq((7L, 1L)))
    assert(out.head.getAs[Double]("jaccard") === 1.0)
  }

  test("simhash is deterministic and token-order-independent") {
    val a = docsDf(1L -> "spark fast table join query")
    val b = docsDf(1L -> "query join table fast spark")
    val ha = Dedup.simhash(a).head().getLong(1)
    val hb = Dedup.simhash(b).head().getLong(1)
    assert(ha === hb) // built from the distinct-token set
    val hc = Dedup.simhash(docsDf(1L -> "entirely different words here now")).head().getLong(1)
    assert(ha !== hc)
  }

  test("clusters computes transitive closure: chains collapse to one min-id label") {
    // edges: 1-2, 2-3 (chain), 5-6 (separate), 9-4 (labels must follow min)
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (9L, 4L)).toDF("a", "b")
    val out = Dedup.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L, 4L -> 4L, 9L -> 4L))
  }

  test("clusters converges on a long chain (diameter > 1 iteration)") {
    // a path 10-11-12-...-18: min label 10 must propagate the whole way
    val pairs = (10L until 18L).map(i => (i, i + 1)).toDF("a", "b")
    val out = Dedup.clusters(pairs).collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(out.forall(_._2 == 10L), out.mkString(", "))
    assert(out.map(_._1).sorted.toSeq === (10L to 18L).toSeq)
  }

  test("pointer doubling: same fixpoint as plain propagation, logarithmic rounds on a 64-chain") {
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("a", "b")
    val (fast, fastRounds) = Dedup.clustersWithRounds(pairs, shortcut = true)
    val (plain, plainRounds) = Dedup.clustersWithRounds(pairs, shortcut = false)
    assert(fast.collect().map(_.toSeq).toSeq === plain.collect().map(_.toSeq).toSeq)
    assert(fast.collect().forall(_.getLong(1) == 0L))
    // plain propagation moves the min one hop per round (~diameter rounds);
    // the shortcut doubles the jump each round (~log2 rounds)
    assert(plainRounds >= 30, s"plain took $plainRounds rounds")
    assert(fastRounds <= 10, s"shortcut took $fastRounds rounds")
  }

  private def labelMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("above the local-edge ceiling the distributed closure gives the local and reference labels") {
    // two 8-cliques bridged by a chain, pairs interleaved over 3 partitions
    // so each clique's pairs are split across partitions
    val cliques = for {
      base <- Seq(100L, 200L); i <- 0L until 8L; j <- i + 1 until 8L
    } yield (base + j, base + i)
    val dense = spark.sparkContext
      .parallelize((cliques ++ Seq((107L, 150L), (150L, 203L)))
        .sortBy(p => (p._1 * 31 + p._2) % 17), 3)
      .toDF("a", "b")
    assert(dense.rdd.getNumPartitions >= 2)
    val chain = (10L until 18L).map(i => (i, i + 1)).toDF("a", "b")
    val minLabel = Seq((1L, 2L), (2L, 3L), (5L, 6L), (9L, 4L)).toDF("a", "b")
    for (pairs <- Seq(chain, minLabel, dense)) {
      val (local, localRounds) = Dedup.clustersWithRounds(pairs)
      val reference = labelMap(Dedup.clustersWithRounds(pairs, shortcut = false)._1)
      val (distributed, distRounds) = Dedup.clustersWithRounds(pairs, maxLocalEdges = 0)
      assert(localRounds === 1)
      assert(distRounds >= 2, "the 0 ceiling must take the distributed path")
      assert(labelMap(local) === reference)
      assert(labelMap(distributed) === reference)
    }
    val dl = labelMap(Dedup.clusters(dense))
    assert(dl.size === 17 && dl.values.toSet === Set(100L))
  }

  test("building clusters runs at most two Spark jobs") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (9L, 4L), (3L, 7L)).toDF("a", "b")
    val (labels, jobs) = SparkTestSession.jobsIn(Dedup.clusters(pairs))
    assert(jobs >= 1 && jobs <= 2, s"$jobs jobs while building")
    assert(labelMap(labels) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L,
      5L -> 5L, 6L -> 5L, 4L -> 4L, 9L -> 4L))
  }

  test("building the exact pair joins runs no count job") {
    // only the materializations run while building: the DF-capped shingle
    // index (ngramJaccard, containment) and the LSH pair set
    // (editDistanceVerified); AQE runs each as its query-stage jobs
    val docs = docsDf(
      1L -> "one two three four five six seven eight",
      2L -> "one two three four five six seven eight",
      3L -> "one two three four five six seven nine",
      4L -> "alpha beta gamma delta epsilon zeta eta theta")
    val jobs = Seq(
      "ngramJaccard" -> SparkTestSession.jobsIn(Dedup.ngramJaccard(docs))._2,
      "containment" -> SparkTestSession.jobsIn(Dedup.containment(docs))._2,
      "editDistanceVerified" -> SparkTestSession.jobsIn(Dedup.editDistanceVerified(docs))._2)
    assert(jobs === Seq("ngramJaccard" -> 2, "containment" -> 2,
      "editDistanceVerified" -> 6))
  }

  test("sourceOverlap: identical sources estimate 1.0, disjoint near 0") {
    val text1 = "alpha beta gamma delta epsilon zeta eta theta"
    val text2 = "one two three four five six seven eight nine"
    val df = Seq(
      (1L, text1, "s_x"), (2L, text2, "s_x"),
      (3L, text1, "s_y"), (4L, text2, "s_y"),   // same shingle union as s_x
      (5L, "totally different words in this corpus here now", "s_z"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val out = Dedup.sourceOverlap(df).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(out(("s_x", "s_y")) === 1.0)     // identical shingle unions
    assert(out(("s_x", "s_z")) < 0.1)       // disjoint vocabularies
    assert(out(("s_y", "s_z")) < 0.1)
  }

  test("sourceOverlap omits sources whose docs are all too short to shingle") {
    val df = Seq(
      (1L, "alpha beta gamma delta", "s_real"),
      (2L, "epsilon zeta eta theta", "s_real2"),
      (3L, "too short", "s_empty"))          // < 3 tokens: no shingles
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val pairs = Dedup.sourceOverlap(df).collect().map(r => (r.getString(0), r.getString(1)))
    assert(pairs.toSeq === Seq(("s_real", "s_real2")))  // s_empty absent, no spurious 1.0
  }

  test("native simhash63 equals the oracle-portable SQL formulation") {
    // the corpus plus tokenization edge cases the SQL's split(' ')/-1
    // semantics cover: repeated tokens, double spaces, trailing space
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
      .select(col("doc_id"), col("text"))
      .unionAll(Seq(
        (900001L, "dup dup dup distinct"),
        (900002L, "double  space"),
        (900003L, "trailing space ")).toDF("doc_id", "text"))
    graft.functions.GraftFunctions.register(spark)
    val mismatches = docs
      .select(col("doc_id"), expr("simhash63(text)").as("native"),
        expr(Dedup.simhashExprSql).as("sql"))
      .filter(col("native") =!= col("sql"))
      .count()
    assert(mismatches === 0L)
  }

  test("simhashPairs banded index equals exact all-pairs Hamming join") {
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
    val banded = Dedup.simhashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val sh = Dedup.simhash(docs).collect().map(r => r.getLong(0) -> r.getLong(1))
    val exact = for {
      (a, ha) <- sh; (b, hb) <- sh
      if a < b && java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (a, b, java.lang.Long.bitCount(ha ^ hb))
    assert(banded.toSeq.sorted === exact.toSeq.sorted)
    assert(banded.nonEmpty)
  }

  test("simhashPairs band-bucket cap: high cap exact, low cap suppresses the clone family") {
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
    // cap >= the largest band bucket -> identical to uncapped (exactness
    // escape valve, the wedge-budget discipline)
    val uncapped = Dedup.simhashPairs(docs).collect().map(_.toSeq).toSeq
    val high = Dedup.simhashPairs(docs, maxBandBucket = Some(1000000))
      .collect().map(_.toSeq).toSeq
    assert(high === uncapped)
    // a 30-clone template family: every clone shares all 4 band buckets;
    // cap=8 suppresses those buckets entirely, organic pairs survive
    import spark.implicits._
    val family = (0L until 30L).map(i =>
      (1000L + i, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    val organic = Seq(
      (1L, "one two three four five six seven eight nine ten"),
      (2L, "one two three four five six seven eight nine eleven"))
    val corpus = (family ++ organic).toDF("doc_id", "text")
    val all = Dedup.simhashPairs(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.simhashPairs(corpus, maxBandBucket = Some(8)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all.count(p => p._1 >= 1000L && p._2 >= 1000L) === 30 * 29 / 2)
    assert(capped.forall(p => p._1 < 1000L && p._2 < 1000L),
      s"family pairs must be suppressed at cap=8: $capped")
    assert(capped === all.filter(p => p._1 < 1000L && p._2 < 1000L))
  }

  test("minhashLsh band-bucket cap drops mega-cluster pairs, leaves the rest exact") {
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
    // a generous cap changes nothing (no real bucket is that hot)
    val uncapped = Dedup.minhashLsh(docs).collect().map(r => (r.getLong(0), r.getLong(1)))
    val high = Dedup.minhashLsh(docs, maxBandBucket = Some(10000))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(high.toSeq.sorted === uncapped.toSeq.sorted)
    // a 40-clone boilerplate family: uncapped emits all C(40,2) + organic
    // pairs; cap=8 suppresses the family's buckets entirely
    import spark.implicits._
    val family = (0L until 40L).map(i => (1000L + i, "alpha beta gamma delta epsilon zeta eta theta"))
    val organic = Seq((1L, "one two three four five six seven eight"),
      (2L, "one two three four five six seven nine"))
    val corpus = (family ++ organic).toDF("doc_id", "text")
    val all = Dedup.minhashLsh(corpus, threshold = 0.5).collect()
    val capped = Dedup.minhashLsh(corpus, threshold = 0.5, maxBandBucket = Some(8)).collect()
    assert(all.length >= 40 * 39 / 2)
    assert(capped.length === all.length - 40 * 39 / 2,
      s"capped=${capped.length} all=${all.length}")
  }

  test("embeddingCosine flags parallel vectors, not orthogonal ones") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(2.0f, 0.0f, 0.0f)),   // parallel to 1 → cos 1.0
      (3L, Array(0.0f, 5.0f, 0.0f))    // orthogonal
    ).toDF("vec_id", "embedding")
    val out = Dedup.embeddingCosine(df, threshold = 0.9).collect()
    assert(out.length === 1)
    assert((out.head.getLong(0), out.head.getLong(1)) === (1L, 2L))
    assert(out.head.getAs[Double]("cosine") === 1.0)
  }

  test("incrementalStored equals the rescan variant against a freshly built store") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
    val store = java.nio.file.Files.createTempDirectory("graft_store_spec").toString
    Dedup.buildBandStore(docs.filter(col("doc_id") % 7 =!= 0), store)
    val stored = Dedup.incrementalStored(docs.filter(col("doc_id") % 7 === 0), store)
      .collect().map(_.toSeq).toSeq
    val rescan = Dedup.incremental(docs).collect().map(_.toSeq).toSeq
    assert(stored === rescan)
    assert(stored.nonEmpty)
  }

  test("ingestTriageStored equals the in-line triage, including under build+append") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
    val hist = docs.filter(col("doc_id") % 7 =!= 0)
    val inc = docs.filter(col("doc_id") % 7 === 0)
    val inline = Dedup.ingestTriage(docs).collect().map(_.toSeq).toSeq
    // sf0.001's near-dups are all also exact dups (verdict precedence), so
    // assert the near COLUMNS populate rather than the 'near' label itself
    assert(inline.exists(_(1) == "exact") && inline.exists(_(1) == "fresh") &&
      inline.exists(_(2) != null), "fixture should exercise exact/fresh + a near match")
    val one = java.nio.file.Files.createTempDirectory("graft_triage_one").toString
    Dedup.buildTriageStore(hist, one, expectedItems = 10000L)
    assert(Dedup.ingestTriageStored(inc, one).collect().map(_.toSeq).toSeq === inline)
    // build on the odd half, append the even half — the lifecycle the
    // daily loop runs; the merged store answers the same relation
    val grown = java.nio.file.Files.createTempDirectory("graft_triage_grow").toString
    Dedup.buildTriageStore(hist.filter(col("doc_id") % 2 === 1), grown,
      expectedItems = 10000L)
    Dedup.appendToTriageStore(hist.filter(col("doc_id") % 2 === 0), grown)
    assert(Dedup.ingestTriageStored(inc, grown).collect().map(_.toSeq).toSeq === inline)
    // compaction is pure layout
    Dedup.compactTriageStore(spark, grown)
    assert(Dedup.ingestTriageStored(inc, grown).collect().map(_.toSeq).toSeq === inline)
  }

  test("ingestTriageStored: above the broadcast ceiling the shuffled key joins are row-identical") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
    val hist = docs.filter(col("doc_id") % 7 =!= 0)
    val inc = docs.filter(col("doc_id") % 7 === 0)
    val store = java.nio.file.Files.createTempDirectory("graft_triage_bc").toString
    Dedup.buildTriageStore(hist, store, expectedItems = 10000L)
    val viaBroadcast = Dedup.ingestTriageStored(inc, store).collect().map(_.toSeq).toSeq
    // maxBroadcastKeys = 0 forces the backfill path: both key joins run as
    // shuffled equi-joins on k — same relation, only the strategy moves
    val viaShuffle = Dedup.ingestTriageStored(inc, store, maxBroadcastKeys = 0L)
      .collect().map(_.toSeq).toSeq
    assert(viaShuffle === viaBroadcast)
    assert(viaShuffle.nonEmpty)
  }

  test("triage torn append fails probes and compact loudly; re-run + compact recovers exactly") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
    val hist = docs.filter(col("doc_id") % 7 =!= 0)
    val inc = docs.filter(col("doc_id") % 7 === 0)
    val inline = Dedup.ingestTriage(docs).collect().map(_.toSeq).toSeq
    val store = java.nio.file.Files.createTempDirectory("graft_triage_torn").toString
    Dedup.buildTriageStore(hist.filter(col("doc_id") % 2 === 1), store,
      expectedItems = 10000L)
    // simulate the crash appendToTriageStore guards against: the marker is
    // down and only the FIRST of the four relations (bands/hashes) landed —
    // the exact and near halves now disagree about which day they cover
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$store/append.pending"), Array.empty[Byte])
    Dedup.appendToBandStore(hist.filter(col("doc_id") % 2 === 0), store)
    val e1 = intercept[IllegalArgumentException](Dedup.ingestTriageStored(inc, store))
    assert(e1.getMessage.contains("torn triage append"))
    val e2 = intercept[IllegalArgumentException](Dedup.compactTriageStore(spark, store))
    assert(e2.getMessage.contains("torn triage append"))
    // the documented recovery: re-run the SAME append (takes over the
    // marker; band/hash rows are now duplicated), then compact to fold the
    // duplicates out — the probe equals the in-line oracle again
    Dedup.appendToTriageStore(hist.filter(col("doc_id") % 2 === 0), store)
    Dedup.compactTriageStore(spark, store)
    assert(Dedup.ingestTriageStored(inc, store).collect().map(_.toSeq).toSeq === inline)
  }

  test("compactTriageStore refuses a torn embedded Bloom snapshot (missing _SUCCESS)") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
    val store = java.nio.file.Files.createTempDirectory("graft_triage_noblm").toString
    Dedup.buildTriageStore(docs.filter(col("doc_id") % 7 =!= 0), store,
      expectedItems = 10000L)
    // simulate a torn snapshot: the marker readMeta requires is gone
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$store/bloom/_SUCCESS"))
    val e = intercept[IllegalArgumentException](Dedup.compactTriageStore(spark, store))
    assert(e.getMessage.contains("_SUCCESS"))
  }

  test("embeddingCosinePruned equals the exact all-pairs result on the fixture") {
    val embs = Tables.load(spark, SparkTestSession.sfDir, "embeddings")
    for (t <- Seq(0.4, 0.6)) {
      val exact = Dedup.embeddingCosine(embs, threshold = t).collect().map(_.toSeq).toSeq
      val pruned = Dedup.embeddingCosinePruned(embs, threshold = t).collect().map(_.toSeq).toSeq
      assert(pruned === exact, s"threshold $t: pruned result diverged from exact")
    }
  }

  test("embeddingKeepersPruned equals exact keepers on the fixture at threshold 0.4") {
    val embs = Tables.load(spark, SparkTestSession.sfDir, "embeddings")
    val exact = Dedup.embeddingKeepers(embs).collect().map(_.toSeq).toSeq
    val pruned = Dedup.embeddingKeepersPruned(embs).collect().map(_.toSeq).toSeq
    assert(pruned === exact)
    assert(pruned.nonEmpty)
  }

  test("metric prune removes provably-empty list pairs on clustered data, result stays exact") {
    // two tight antipodal-ish clusters + their two seed centroids: every
    // cross-cluster list pair is provably empty at threshold 0.9 and must
    // be pruned; within-cluster pairs survive and verify exactly
    val mk = (base: Float, i: Int) =>
      Array(base + i * 0.001f, 1.0f - base, 0.05f * (i % 3))
    val rows = (0 until 40).map(i => (i.toLong, mk(0.9f, i))) ++       // cluster A
      (40 until 80).map(i => (i.toLong, mk(-0.9f, i))) ++             // cluster B
      Seq((100L, mk(0.9f, 0)), (101L, mk(-0.9f, 0)))                  // the 2 seeds
    val df = rows.toDF("vec_id", "embedding")
    val kept = Dedup.prunedListPairs(df, threshold = 0.9, nList = 2, centroidBase = 100)
      .collect().map(r => (r.getAs[Int]("i"), r.getAs[Int]("j"))).toSet
    // 3 unordered list pairs exist for nList=2; the cross pair (0,1) is
    // pruned (θ≈151° minus two tight radii ≫ arccos 0.9)
    assert(!kept.contains((0, 1)), s"cross-cluster pair not pruned: $kept")
    assert(kept.size < 3)
    val exact = Dedup.embeddingCosine(df, threshold = 0.9).collect().map(_.toSeq).toSeq
    val pruned = Dedup.embeddingCosinePruned(df, threshold = 0.9, nList = 2, centroidBase = 100)
      .collect().map(_.toSeq).toSeq
    assert(pruned === exact)
    assert(pruned.nonEmpty)
  }

  test("pruned twin falls back to the blocked join when no tile can be pruned") {
    // the driver fixture is effectively isotropic at the 0.4 bar (measured
    // qualifying fraction ~9e-4, per-list radii ≈ π/2): the tile bound
    // kills nothing, so the adaptive twin must take the plain blocked-join
    // path (false) rather than pay the tile machinery for zero savings
    val embs = Tables.load(spark, SparkTestSession.sfDir, "embeddings")
    val (df, prunedPath) = Dedup.cosinePrunedPath(embs, 0.4, 16, 100)
    assert(!prunedPath, "expected the no-bind fallback on isotropic data")
    val exact = Dedup.embeddingCosine(embs, threshold = 0.4).collect().map(_.toSeq).toSeq
    assert(df.collect().map(_.toSeq).toSeq === exact)
    // two tight separated clusters at a binding bar: the tile path runs
    import org.apache.spark.sql.functions.col
    val mk = (base: Float, i: Int) =>
      Array(base + i * 0.001f, 1.0f - base, 0.05f * (i % 3))
    val rows = (0 until 40).map(i => (i.toLong, mk(0.9f, i))) ++
      (40 until 80).map(i => (i.toLong, mk(-0.9f, i))) ++
      Seq((100L, mk(0.9f, 0)), (101L, mk(-0.9f, 0)))
    val clustered = rows.toDF("vec_id", "embedding")
    val (_, binds) = Dedup.cosinePrunedPath(clustered, 0.9, 2, 100)
    assert(binds, "expected the tile-pruned path on separated clusters")
  }

  test("embeddingKeepers collapses parallel-vector families to one keeper each") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(2.0f, 0.0f, 0.0f)),    // parallel to 1
      (3L, Array(3.0f, 0.0f, 0.001f)),  // near-parallel to 1 and 2
      (4L, Array(0.0f, 5.0f, 0.0f)),
      (5L, Array(0.0f, 7.0f, 0.0f))     // parallel to 4, orthogonal to 1-3
    ).toDF("vec_id", "embedding")
    val out = Dedup.embeddingKeepers(df, threshold = 0.99).collect()
      .map(r => (r.getAs[Long]("cluster_id"), r.getAs[Long]("keeper_id"),
        r.getAs[Long]("n_members"))).toSet
    assert(out === Set((1L, 1L, 3L), (4L, 4L, 2L)))
  }

  test("appendToBandStore: day-2 sees day-1 docs, append is increment-sized, old files untouched") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
    val hist = docs.filter(col("doc_id") % 7 =!= 0 && col("doc_id") % 5 =!= 0)
    val day1 = docs.filter(col("doc_id") % 7 =!= 0 && col("doc_id") % 5 === 0)
    val probe = docs.filter(col("doc_id") % 7 === 0)
    val storeA = java.nio.file.Files.createTempDirectory("graft_store_append").toString
    Dedup.buildBandStore(hist, storeA)
    val bandsBefore = spark.read.parquet(s"$storeA/bands").count()
    def files(sub: String) = new java.io.File(s"$storeA/$sub").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).toSet
    val (bandFiles0, hashFiles0) = (files("bands"), files("hashes"))

    // day 1: flag the increment against the store, then fold it in
    Dedup.incrementalStored(day1, storeA).collect()
    Dedup.appendToBandStore(day1, storeA)

    // day-2 incoming docs that duplicate day-1's are now caught: probing
    // with day1 itself, every doc self-matches at exact jaccard 1.0
    val day2 = Dedup.incrementalStored(day1, storeA).collect()
    val selfPairs = day2.filter(r => r.getLong(0) == r.getLong(1))
    val day1Ids = day1.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(selfPairs.map(_.getLong(0)).toSet === day1Ids)
    assert(selfPairs.forall(_.getAs[Double]("jaccard") === 1.0))

    // appended store ≡ a from-scratch rebuild over hist ∪ day1: any probe
    // set gets the identical pair relation (file layout is not semantics)
    val storeB = java.nio.file.Files.createTempDirectory("graft_store_rebuild").toString
    Dedup.buildBandStore(docs.filter(col("doc_id") % 7 =!= 0), storeB)
    val viaAppend = Dedup.incrementalStored(probe, storeA).collect().map(_.toSeq).toSeq
    val viaRebuild = Dedup.incrementalStored(probe, storeB).collect().map(_.toSeq).toSeq
    assert(viaAppend === viaRebuild)
    assert(viaAppend.nonEmpty)

    // the append wrote EXACTLY the increment's band rows (O(increment) IO,
    // not O(store)) and never rewrote existing files
    val bandsAfter = spark.read.parquet(s"$storeA/bands").count()
    val bandsRebuild = spark.read.parquet(s"$storeB/bands").count()
    assert(bandsAfter === bandsRebuild,
      s"append rows: before=$bandsBefore after=$bandsAfter rebuild=$bandsRebuild")
    assert(bandsAfter > bandsBefore)
    assert(bandFiles0.subsetOf(files("bands")) && hashFiles0.subsetOf(files("hashes")))

    // compact: pure layout — row set and probe relation unchanged, the
    // accumulated build+append file sets collapse to numFiles each, and
    // no .old / .compact-* residue survives the swap
    val filesBeforeCompact = files("bands").size
    Dedup.compactBandStore(spark, storeA, numFiles = 4)
    assert(spark.read.parquet(s"$storeA/bands").count() === bandsAfter)
    val viaCompacted = Dedup.incrementalStored(probe, storeA).collect().map(_.toSeq).toSeq
    assert(viaCompacted === viaRebuild)
    assert(files("bands").size === 4 && files("hashes").size === 4)
    assert(files("bands").size < filesBeforeCompact)
    val parent = new java.io.File(storeA).getParentFile.listFiles().map(_.getName)
    val base = new java.io.File(storeA).getName
    // the bare `.lock.takeover` rendezvous is BY DESIGN permanent (a
    // flock file is never unlinked); anything else is residue
    assert(!parent.exists(n => n.startsWith(base) && n != base &&
        n != s"$base.lock.takeover"),
      s"compaction residue: ${parent.filter(_.startsWith(base)).mkString(",")}")
  }

  test("keepers summarizes clusters: min doc_id kept, member counts add up") {
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
    val cl = Dedup.minhashClusters(docs).collect()
    val k = Dedup.keepers(docs).collect()
    assert(k.map(_.getAs[Long]("n_members")).sum === cl.length.toLong)
    val byCluster = cl.groupBy(_.getAs[Long]("cluster_id"))
    k.foreach { r =>
      val members = byCluster(r.getAs[Long]("cluster_id")).map(_.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("keeper_id") === members.min)
      assert(r.getAs[Long]("n_members") === members.length.toLong)
    }
  }

  test("containment fires on doc-inside-doc where the Jaccard bar cannot") {
    // doc 1 is quoted whole inside doc 2's much longer text: every trigram
    // of 1 appears in 2, so containment(1→2) = 1.0 while Jaccard = na/nb
    val quote = "alpha beta gamma delta epsilon"              // 3 trigrams
    val filler = (1 to 40).map(i => s"w$i").mkString(" ")     // disjoint tail
    val out = Dedup.containment(docsDf(1L -> quote, 2L -> s"$quote $filler"))
      .collect().map(r => (r.getAs[Long]("contained"), r.getAs[Long]("container"),
        r.getAs[Double]("containment")))
    // only the 1→2 direction clears the 0.6 bar (2→1 is 3/42)
    assert(out.toSeq === Seq((1L, 2L, 1.0)))
    // symmetric near-dups emit BOTH directions
    val both = Dedup.containment(docsDf(
      3L -> "one two three four five", 4L -> "one two three four six"))
      .collect().map(r => (r.getAs[Long]("contained"), r.getAs[Long]("container")))
    assert(both.toSeq === Seq((3L, 4L), (4L, 3L)))
    // sanity on the real fixture: containment pairs are a superset of the
    // SAME-threshold Jaccard pairs (containment >= jaccard pointwise)
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
    val cont = Dedup.containment(docs, threshold = 0.5).collect()
      .map(r => Set(r.getLong(0), r.getLong(1))).toSet
    val jac = Dedup.ngramJaccard(docs, threshold = 0.5).collect()
      .map(r => Set(r.getLong(0), r.getLong(1))).toSet
    assert(jac.subsetOf(cont))
  }

  test("simhashPrEval: bars are cumulative, counts reconcile, empty bars report zeros") {
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
    val out = Dedup.simhashPrEval(docs).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.map(_._1).toSeq === Seq(1, 2, 3))
    // widening the bar can only add pairs: tp and fp are non-decreasing,
    // and tp + fn = |truth| is constant across bars
    assert(out.sliding(2).forall { case Array(lo, hi) => lo._2 <= hi._2 && lo._3 <= hi._3 })
    val totals = out.map(t => t._2 + t._4).distinct
    assert(totals.length === 1)
    // bar 3's (tp + fp) must equal the simhashPairs row count
    assert(out.last._2 + out.last._3 === Dedup.simhashPairs(docs).count())
    // a corpus with no near-dups at all: every bar reports (0, 0, 0)
    import spark.implicits._
    val distinctDocs = Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    val empty = Dedup.simhashPrEval(distinctDocs).collect()
    assert(empty.length === 3)
    assert(empty.forall(r => r.getLong(1) == 0 && r.getLong(2) == 0 && r.getLong(3) == 0))
  }

  test("substringSpans: hand-built cross-doc dup windows merge into maximal spans") {
    // k=3; docs 1 and 2 share the trigram "x y z" (one window each); doc 3
    // shares nothing cross-doc
    val docs = docsDf(
      (1L, "a b x y z c d"),   // dup window at pos 3
      (2L, "x y z q r s t"),   // dup window at pos 1
      (3L, "u v w u v w u v")) // internal repeat only — NOT cross-doc
    val out = Dedup.substringSpans(docs, k = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(out(1L) === ((7L, 1L, 1L, 3L, 0.428571))) // 3 dup tokens of 7
    assert(out(2L) === ((7L, 1L, 1L, 3L, 0.428571)))
    assert(out(3L) === ((8L, 0L, 0L, 0L, 0.0)))
  }

  test("spanClean actions the span signal: keep / cut / drop with integer threshold") {
    // k=3: doc 1 shares one trigram with doc 2 (cut both: 3 of 7 dup);
    // docs 4/5 are clones (every window dup -> drop); doc 3 clean (keep)
    val docs = docsDf(
      (1L, "a b x y z c d"),
      (2L, "x y z q r s t"),
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8"),
      (4L, "m n o p m n o p"),
      (5L, "m n o p m n o p"))
    val out = Dedup.spanClean(docs, k = 3).collect()
      .map(r => r.getLong(0) -> (r.getString(3), r.getLong(4))).toMap
    assert(out(1L) === (("cut", 4L)))   // 7 words - 3 dup tokens
    assert(out(2L) === (("cut", 4L)))
    assert(out(3L) === (("keep", 8L)))
    assert(out(4L) === (("drop", 0L)) && out(5L) === (("drop", 0L)))
    // exactly-half duplication is NOT a drop (strict integer threshold):
    // docs 6/7 share the first 4 tokens of 8 (one 4-token span, k=4)
    val half = docsDf(
      (6L, "h1 h2 h3 h4 a1 a2 a3 a4"),
      (7L, "h1 h2 h3 h4 b1 b2 b3 b4"))
    val o2 = Dedup.spanClean(half, k = 4).collect()
      .map(r => r.getLong(0) -> (r.getString(3), r.getLong(4))).toMap
    assert(o2(6L) === (("cut", 4L)) && o2(7L) === (("cut", 4L)))
  }

  test("spanDedupOnce keeps the first occurrence: lowest doc_id retains every duplicated span, later docs cut") {
    // Same fixture as the spanClean test. The keep-first semantics flip
    // exactly the rows where spanClean loses content: doc 1 (the lower
    // id of the shared trigram) KEEPS it; doc 4 (the lower clone) keeps
    // EVERYTHING while its clone 5 still drops — repeated passages
    // survive exactly once corpus-wide.
    val docs = docsDf(
      (1L, "a b x y z c d"),
      (2L, "x y z q r s t"),
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8"),
      (4L, "m n o p m n o p"),
      (5L, "m n o p m n o p"))
    val out = Dedup.spanDedupOnce(docs, k = 3).collect()
      .map(r => r.getLong(0) -> (r.getString(5), r.getLong(6))).toMap
    assert(out(1L) === (("keep", 7L)), "first occurrence must keep the shared trigram")
    assert(out(2L) === (("cut", 4L)))
    assert(out(3L) === (("keep", 8L)))
    assert(out(4L) === (("keep", 8L)), "the lower clone keeps everything")
    assert(out(5L) === (("drop", 0L)), "the higher clone is fully duplicated elsewhere")
    // differential vs the cut-everywhere form on the corpus fixture:
    // pointwise n_cut_tokens <= n_dup_tokens, strictly less in total
    // (keepers exist), and total kept content strictly greater
    val corpus = Tables.load(spark, SparkTestSession.sfDir, "documents")
    val once = Dedup.spanDedupOnce(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val all = Dedup.substringSpans(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(once.keySet === all.keySet)
    once.foreach { case (d, cut) =>
      assert(cut <= all(d), s"doc $d: keep-first cut $cut > cut-everywhere ${all(d)}")
    }
    assert(once.values.sum < all.values.sum,
      "keep-first must retain strictly more tokens than cut-everywhere")
    assert(once.values.exists(_ > 0), "fixture must contain cross-doc duplicated spans")
  }

  test("spanDedupOnceStored: history keeps by definition; windows new to the increment keep-first within it") {
    val base = java.nio.file.Files.createTempDirectory("spanonce").toString
    // history: doc 10 contains the trigram "x y z"
    val hist = docsDf((10L, "p q x y z r s"))
    Dedup.buildSpanStore(hist, s"$base/s", k = 3)
    // incoming: doc 1 re-contains the historical trigram (cut — history
    // keeps); docs 2 & 3 share a NEW trigram (2 keeps as the increment's
    // first occurrence, 3 cuts); doc 4 is clean
    val inc = docsDf(
      (1L, "a b x y z c d"),
      (2L, "u v w e f g h"),
      (3L, "u v w m n o p2"),
      (4L, "k1 k2 k3 k4 k5 k6 k7"))
    val out = Dedup.spanDedupOnceStored(inc, s"$base/s", k = 3).collect()
      .map(r => r.getLong(0) -> (r.getString(5), r.getLong(6))).toMap
    assert(out(1L) === (("cut", 4L)), "a window already in history is cut from the increment")
    assert(out(2L) === (("keep", 7L)), "the increment's first occurrence of a NEW window keeps")
    assert(out(3L) === (("cut", 4L)))
    assert(out(4L) === (("keep", 7L)))
    // corpus differential: the stored keep-first probe cuts AT LEAST what
    // the history-only probe cuts (merged span coverage is monotone in
    // the cut-position set — the in-increment keeper rule only adds)
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
    val store2 = s"$base/s2"
    Dedup.buildSpanStore(docs.filter(col("doc_id") % 7 =!= 0), store2)
    val probe = docs.filter(col("doc_id") % 7 === 0)
    val stored = Dedup.spanDedupOnceStored(probe, store2).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val histOnly = Dedup.spansAgainstStore(probe, store2).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(stored.keySet === histOnly.keySet)
    histOnly.foreach { case (d, hcut) =>
      assert(stored(d) >= hcut,
        s"doc $d: keep-first stored cut ${stored(d)} < history-only cut $hcut")
    }
    assert(histOnly.values.exists(_ > 0), "fixture must contain history-duplicated spans")
  }

  test("spanDedupOnceStored composes: day-0 build + 3 probe→append days over id-ordered splits ≡ in-line spanDedupOnce on the union corpus") {
    // VERDICT r14 #3: the receipt for the Scaladoc's composition claim.
    // Ids are arrival-ordered (day splits monotone in doc_id), so the
    // daily histories coincide with the in-line keeper rule's view:
    //  - a window first seen on day d keeps in its lowest doc_id there
    //    (in-batch keeper = global keeper, ids ordered);
    //  - every later day's occurrence store-hits and cuts — exactly the
    //    in-line "cut everywhere but min doc_id".
    // Day 0 seeds the store (buildSpanStore) and contributes its manifest
    // via the in-line operator — identical to probing an empty store, and
    // the shape a real deployment starts from (first corpus = batch build).
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
      .select("doc_id", "text")
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val cuts = Seq(ids(ids.length / 4), ids(ids.length / 2), ids(3 * ids.length / 4))
    val store = java.nio.file.Files.createTempDirectory("spancompose").toString + "/s"
    val day0 = docs.filter(col("doc_id") <= cuts(0))
    Dedup.buildSpanStore(day0, store)
    val manifests = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    manifests ++= Dedup.spanDedupOnce(day0).collect().map(_.toSeq)
    val days = Seq(
      docs.filter(col("doc_id") > cuts(0) && col("doc_id") <= cuts(1)),
      docs.filter(col("doc_id") > cuts(1) && col("doc_id") <= cuts(2)),
      docs.filter(col("doc_id") > cuts(2)))
    days.foreach { day =>
      manifests ++= Dedup.spanDedupOnceStored(day, store).collect().map(_.toSeq)
      Dedup.appendToSpanStore(day, store)
    }
    val daily = manifests.sortBy(_.head.asInstanceOf[Long]).toSeq
    val inline = Dedup.spanDedupOnce(docs).collect().map(_.toSeq).toSeq
    assert(daily.size === inline.size)
    assert(daily === inline,
      "the union of daily keep-first manifests must equal the in-line manifest on the union corpus")
    // the fixture must actually exercise the cross-day paths: cuts in the
    // probe days (history-hit or in-batch keeper) and keepers after day 0
    val cutByDay = (day0 +: days).map { day =>
      val dayIds = day.select("doc_id").collect().map(_.getLong(0)).toSet
      inline.filter(r => dayIds(r.head.asInstanceOf[Long]))
        .map(_(3).asInstanceOf[Long]).sum // n_cut_tokens
    }
    assert(cutByDay.tail.exists(_ > 0), "probe days must contain cut docs")
    assert(cutByDay.head > 0, "day 0 must contain in-batch duplicated spans")
  }

  test("substringSpans: overlapping and touching windows merge; disjoint ones don't") {
    // k=2; shared bigrams "p q" and "q r" overlap in doc 1 (positions 1,2
    // -> one span of 3 tokens); "s t" at pos 6 is disjoint -> second span
    val docs = docsDf(
      (1L, "p q r m n s t"),
      (2L, "p q r z z s t"))
    val out = Dedup.substringSpans(docs, k = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // doc 1: windows {1,2} merge (gap 1 <= 2), {6} separate -> 2 spans,
    // dup tokens = (2-1+2) + (6-6+2) = 5
    assert(out(1L) === ((3L, 2L, 5L)))
    assert(out(2L) === ((3L, 2L, 5L)))
  }

  test("substringSpans matches a brute-force span construction on the fixture") {
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
    val k = 8
    val toks = docs.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    val wins = toks.toSeq.flatMap { case (id, ts) =>
      (0 to ts.length - k).map(i => (id, i + 1, ts.slice(i, i + k).mkString(" ")))
    }
    val dupGrams = wins.groupBy(_._3).filter(_._2.map(_._1).distinct.size >= 2).keySet
    val brute = wins.filter(w => dupGrams(w._3)).groupBy(_._1).map { case (id, ws) =>
      val ps = ws.map(_._2).distinct.sorted
      val spans = ps.foldLeft(Vector.empty[(Int, Int)]) { case (acc, p) =>
        acc.lastOption match {
          case Some((lo, hi)) if p - hi <= k => acc.init :+ (lo, p)
          case _ => acc :+ (p, p)
        }
      }
      id -> (ws.size.toLong, spans.size.toLong, spans.map { case (lo, hi) => hi - lo + k }.sum.toLong)
    }
    val out = Dedup.substringSpans(docs, k).collect()
    assert(out.nonEmpty && out.length === toks.size)
    out.foreach { r =>
      val exp = brute.getOrElse(r.getLong(0), (0L, 0L, 0L))
      assert((r.getLong(2), r.getLong(3), r.getLong(4)) === exp,
        s"doc ${r.getLong(0)}: engine (${r.getLong(2)}, ${r.getLong(3)}, ${r.getLong(4)}) vs brute $exp")
    }
    // the fixture genuinely exercises the operator: some doc has a dup span
    assert(out.exists(_.getLong(3) > 0))
  }

  test("spanOverlap counts shared distinct windows per source pair exactly") {
    // k=3: sources X and Y share exactly the trigrams of "x y z" and
    // "y z w" (doc 2 embeds doc 1's tail); source Z shares nothing
    val docs = Seq(
      (1L, "X", "a b x y z w"),
      (2L, "Y", "x y z w q r"),
      (3L, "Z", "u v t u v t")).toDF("doc_id", "source", "text")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val out = Dedup.spanOverlap(docs, k = 3).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
    // X windows: {a b x, b x y, x y z, y z w}; Y: {x y z, y z w, z w q, w q r}
    assert(out.toSeq === Seq(("X", "Y", 2L, 4L, 4L, 0.5)))
    // brute force on the fixture: distinct (source, 8-gram) set intersections
    val fix = Tables.load(spark, SparkTestSession.sfDir, "documents")
    val bySource = fix.select(col("source"), col("text")).collect()
      .flatMap { r =>
        val ts = r.getString(1).split(" ")
        (0 to ts.length - 8).map(i => r.getString(0) -> ts.slice(i, i + 8).mkString(" "))
      }.groupBy(_._1).map { case (s, gs) => s -> gs.map(_._2).toSet }
    val expected = bySource.keys.toSeq.sorted.combinations(2).flatMap { case Seq(a, b) =>
      val n = (bySource(a) & bySource(b)).size.toLong
      if (n > 0) Some((a, b, n)) else None
    }.toSeq
    val got = Dedup.spanOverlap(fix).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got === expected)
    assert(got.nonEmpty) // the fixture genuinely has cross-source boilerplate
  }

  test("native shingle_hash60_pos is window-identical to the SQL md5 twin") {
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
    graft.functions.GraftFunctions.register(spark)
    val native = docs
      .select(col("doc_id"), posexplode(expr("shingle_hash60_pos(text, 8)")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("col").as("h"))
      .orderBy("doc_id", "pos").collect().map(_.toSeq).toSeq
    val sqlTwin = Dedup.spanWindowsSql(docs, 8)
      .orderBy("doc_id", "pos").collect().map(_.toSeq).toSeq
    assert(native.nonEmpty && native === sqlTwin)
  }

  test("paragraphs keeps first occurrence per chunk and reassembles in order") {
    // width=3 chunks: doc 0 = [a b c][d e f]; doc 1 repeats doc 0's first
    //   chunk then adds a fresh one; doc 2 is ENTIRELY chunks seen earlier
    //   (both of doc 0's) → zero kept, empty clean_text; doc 3 has a short
    //   tail chunk (2 words) that must survive intact
    val docs = docsDf(
      0L -> "a b c d e f",
      1L -> "a b c x y z",
      2L -> "a b c d e f",
      3L -> "x y z p q")
    val out = Dedup.paragraphs(docs, width = 3).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_chunks"), r.getAs[Long]("n_kept"),
          r.getAs[Long]("n_dropped"), r.getAs[String]("clean_text")))).toMap
    assert(out(0L) === ((2L, 2L, 0L, "a b c d e f")))
    assert(out(1L) === ((2L, 1L, 1L, "x y z")))
    assert(out(2L) === ((2L, 0L, 2L, "")))
    // doc 3: "x y z" was first kept by doc 1 → dropped; tail "p q" kept
    assert(out(3L) === ((2L, 1L, 1L, "p q")))
  }

  test("paragraphs: corpus-wide keeper invariants hold on 60 random docs") {
    val rnd = new scala.util.Random(31)
    val vocab = Array("aa", "bb", "cc", "dd") // tiny vocab forces chunk collisions
    val rows = (0L until 60L).map { id =>
      id -> Seq.fill(3 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
    val out = Dedup.paragraphs(docsDf(rows: _*), width = 3).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_chunks"),
        r.getAs[Long]("n_kept"), r.getAs[String]("clean_text"))).sortBy(_._1)
    // scala reference chunking (3-word position windows)
    def chunksOf(text: String) = text.split(" ").grouped(3).map(_.mkString(" ")).toSeq
    val refChunks = rows.map { case (id, t) => id -> chunksOf(t) }
    // every distinct chunk is kept EXACTLY once corpus-wide
    val distinctChunks = refChunks.flatMap(_._2).distinct.size
    assert(out.map(_._3).sum === distinctChunks.toLong)
    assert(out.map(_._2).sum === refChunks.map(_._2.size).sum.toLong)
    // each doc's clean text is an in-order subsequence of its own chunks
    for (((id, nc, nk, clean), (rid, ref)) <- out.zip(refChunks)) {
      assert(id === rid && nc === ref.size.toLong)
      val kept = if (clean.isEmpty) Seq.empty else chunksOf(clean)
      assert(kept.size === nk.toInt)
      var i = 0
      for (c <- kept) { val j = ref.indexOf(c, i); assert(j >= 0, s"doc $id: $c out of order"); i = j + 1 }
    }
    // non-degenerate: collisions actually happened
    assert(out.map(_._3).sum < out.map(_._2).sum)
  }

  test("paragraphsAgainstStore keeps exactly the chunks absent from the historical index") {
    val spark0 = SparkTestSession.spark
    import spark0.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pchunk_store").toString
    try {
      val hist = docsDf(0L -> "a b c d e f", 1L -> "x y z q r s")
      Dedup.buildParagraphStore(hist, dir, width = 3)
      // inc 10: first chunk historical, second fresh; inc 11: all
      // historical → empty clean_text; inc 12: all fresh
      val inc = docsDf(
        10L -> "a b c n e w",
        11L -> "x y z a b c",
        12L -> "f r e s h h")
      val out = Dedup.paragraphsAgainstStore(inc, dir, width = 3).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_kept"), r.getAs[Long]("n_dropped"),
            r.getAs[String]("clean_text")))).toMap
      assert(out(10L) === ((1L, 1L, "n e w")))
      assert(out(11L) === ((0L, 2L, "")))
      assert(out(12L) === ((2L, 0L, "f r e s h h")))
      // append lifecycle: the fresh chunks land in the store, so replaying
      // the same increment now drops everything
      Dedup.appendToParagraphStore(inc, dir, width = 3)
      val replay = Dedup.paragraphsAgainstStore(inc, dir, width = 3).collect()
      assert(replay.forall(_.getAs[Long]("n_kept") === 0L))
    } finally graft.ops.Scale.deleteRecursively(new java.io.File(dir))
  }

  test("shingle-less docs (< 3 tokens) never band, pair, or crash the jaccard") {
    // identical 2-token docs across both slices: before the empty-signature
    // guard they all band-collided on the constant empty MinHash sig and
    // the jaccard denominator hit 0 (ANSI divide-by-zero); the oracle's
    // len(w) >= 3 clause excludes them, and so must every banding path
    val df = docsDf(1L -> "aa bb", 2L -> "cc", 3L -> "aa bb",
      7L -> "aa bb", 14L -> "dd ee",
      4L -> (1 to 12).map(i => s"w$i").mkString(" "))
    assert(Dedup.minhashLsh(df).collect().isEmpty)
    assert(Dedup.incremental(df).collect().isEmpty)
    val dir = java.nio.file.Files.createTempDirectory("bandstore").toString
    try {
      Dedup.buildBandStore(df.filter(col("doc_id") % 7 =!= 0), dir)
      assert(Dedup.incrementalStored(
        df.filter(col("doc_id") % 7 === 0), dir).collect().isEmpty)
    } finally graft.ops.Scale.deleteRecursively(new java.io.File(dir))
  }

  test("ingestTriage: exact beats near in the verdict; best near match reported; fresh passes") {
    val pad = "y" * 90
    val long = (1 to 12).map(i => s"tok$i").mkString(" ")
    val longNear = (1 to 11).map(i => s"tok$i").mkString(" ") + " CHANGED"
    val df = docsDf(
      1L -> s"$pad shared-prefix",                        // history: exact anchor
      2L -> long,                                         // history: near anchor
      3L -> "unrelated history content entirely",        // history
      7L -> s"$pad shared-prefix",                        // inc: exact dup of 1
      14L -> longNear,                                    // inc: near dup of 2 (j = 9/11)
      21L -> "completely fresh incoming words here")     // inc: fresh
    val out = Dedup.ingestTriage(df).collect()
      .map(r => r.getLong(0) -> (r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(out(7L)._1 === "exact")
    assert(out(14L) === ("near", 2L))
    assert(out(21L) === ("fresh", -1L))
    // 12-token docs share 9 of their 10 3-gram shingles: j = 9/11
    val j = Dedup.ingestTriage(df).collect()
      .find(_.getLong(0) == 14L).get.getAs[Double]("jaccard")
    assert(math.abs(j - 9.0 / 11.0) < 1e-5, j.toString)
  }

  test("editDistanceVerified: copies get a small capped distance, block swaps read reorder") {
    val a = (1 to 50).map(i => s"alpha$i").mkString(" ")
    val b = (1 to 50).map(i => s"beta$i").mkString(" ")
    val base = (1 to 50).map(i => s"tok$i").mkString(" ")
    val oneEdit = ((1 to 49).map(i => s"tok$i") :+ "tok50x").mkString(" ")
    val df = docsDf(
      1L -> s"$a $b", // A+B
      2L -> s"$b $a", // B+A: same shingle profile, huge character edit
      3L -> base,
      4L -> oneEdit,  // one-token tail edit: one appended character
      5L -> base)     // exact twin of 3
    val out = Dedup.editDistanceVerified(df).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    // exact pair: distance 0, copy
    assert(out((3L, 5L)).getAs[Long]("edit_dist") === 0L)
    assert(out((3L, 5L)).getAs[String]("verdict") === "copy")
    // one-char edit: "tok50" -> "tok50x" is a single insertion
    assert(out((3L, 4L)).getAs[Long]("edit_dist") === 1L)
    assert(out((4L, 5L)).getAs[String]("verdict") === "copy")
    // block swap: shingle Jaccard keeps the pair (only the 4 boundary
    // shingles differ), but the character DP blows the 64-edit cap ->
    // -1 and the reorder verdict — the separation Jaccard cannot make
    assert(out((1L, 2L)).getAs[Double]("jaccard") >= 0.8)
    assert(out((1L, 2L)).getAs[Long]("edit_dist") === -1L)
    assert(out((1L, 2L)).getAs[String]("verdict") === "reorder")
    // the verdict is a pure function of the emitted integers
    out.values.foreach { r =>
      val d = r.getAs[Long]("edit_dist"); val m = r.getAs[Long]("max_len")
      assert(r.getAs[String]("verdict") ===
        (if (d >= 0 && d * 5 <= m) "copy" else "reorder"))
    }
  }

  test("keepersRanked: the longest copy wins a truncation family, equal lengths fall back to min id") {
    val full = (1 to 50).map(i => s"tok$i").mkString(" ")
    val truncated = (1 to 46).map(i => s"tok$i").mkString(" ") // J = 44/48 ≈ 0.92
    val twinA = (1 to 30).map(i => s"alpha$i").mkString(" ")
    val df = docsDf(
      1L -> truncated, 2L -> full, // min-id would keep 1; ranked must keep 2
      7L -> twinA, 8L -> twinA)    // equal length: tie -> min id
    val out = Dedup.keepersRanked(df).collect()
      .map(r => r.getAs[Long]("cluster_id") -> r).toMap
    assert(out(1L).getAs[Long]("keeper_id") === 2L)
    assert(out(1L).getAs[Long]("keeper_len") === full.length.toLong)
    assert(out(1L).getAs[Long]("n_members") === 2L)
    assert(out(7L).getAs[Long]("keeper_id") === 7L)
    // the min-id rule genuinely differs here — the audit columns prove it
    val minId = Dedup.keepers(df).collect()
      .map(r => r.getAs[Long]("cluster_id") -> r.getAs[Long]("keeper_id")).toMap
    assert(minId(1L) === 1L)
  }

  test("editDistanceClusters: copy edges collapse to one keeper, reorder pairs stay out") {
    val a = (1 to 50).map(i => s"alpha$i").mkString(" ")
    val b = (1 to 50).map(i => s"beta$i").mkString(" ")
    val base = (1 to 50).map(i => s"tok$i").mkString(" ")
    val oneEdit = ((1 to 49).map(i => s"tok$i") :+ "tok50x").mkString(" ")
    val df = docsDf(
      1L -> s"$a $b", 2L -> s"$b $a", // reorder pair: must NOT cluster
      3L -> base, 4L -> oneEdit, 5L -> base) // copy triangle
    val out = Dedup.editDistanceClusters(df).collect()
    assert(out.length === 1)
    assert(out(0).getAs[Long]("cluster_id") === 3L)
    assert(out(0).getAs[Long]("keeper_id") === 3L)
    assert(out(0).getAs[Long]("n_members") === 3L)
  }
}
