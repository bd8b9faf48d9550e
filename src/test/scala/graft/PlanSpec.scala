package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions — the 100 TB discipline checks (builder prompt:
  * "does this partition correctly? is the filter pushed down? is this join
  * broadcast-able, and did I broadcast it?"). These lock the plan shape so
  * a regression in pushdown/broadcast/partial-agg fails CI, not the fleet. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = SparkTestSession.sfDir

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("SOQL WHERE reaches the parquet scan as PushedFilters") {
    val p = plan("soql_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("EqualTo(o_orderstatus,F)") || p.contains("IsNotNull(o_orderstatus)"), p)
  }

  test("projection prunes the parquet ReadSchema to selected columns") {
    val p = plan("extract_shape_lineitem")
    val read = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(read.contains("l_orderkey"), read)
    assert(!read.contains("l_comment"), s"unpruned scan: $read")
  }

  test("dimension join broadcasts the small side (no fact-side shuffle)") {
    val p = plan("soql_child_to_parent")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("groupBy aggregation is partial (map-side combine) before the shuffle") {
    val p = plan("soql_groupby_agg")
    assert(p.contains("partial_"), p)
  }

  test("top-k orderBy+limit plans TakeOrderedAndProject, not a global sort") {
    val p = plan("soql_orderby_limit")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("similarity brute force broadcasts the query side against one corpus scan") {
    val p = plan("similarity_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("langid profile join is broadcast (profile bounded by vocab², not corpus)") {
    val p = plan("text_langid")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("funnel and retention plan co-partitioned joins with partial aggregation, no nested loops") {
    for (q <- Seq("events_funnel", "events_retention")) {
      val p = plan(q)
      assert(p.contains("partial_"), s"$q: no map-side partial agg\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q: nested-loop join\n$p")
    }
  }

  test("split sampling is a pure projection plus one aggregation shuffle, no joins") {
    val p = plan("pipeline_split_sample")
    assert(!p.contains("Join"), p)
    val exchanges = p.linesIterator.count(l => l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges <= 2, s"$exchanges exchanges (expected agg shuffle + final sort only)\n$p")
  }

  test("source overlap folds sketches with an array-typed partial aggregate (no per-doc explode)") {
    val p = plan("dedup_source_overlap")
    // union-min runs as partial_minhash_union: one 128-long buffer per
    // (source, task) crosses the shuffle — never 128 exploded rows per doc
    assert(p.contains("partial_minhash_union"), p)
    // the only Generate (posexplode) allowed is AFTER the agg, on S sketches:
    // it must sit above the union agg, i.e. the plan's Generate appears
    // before (shallower than) the ObjectHashAggregate lines in tree order
    val lines = p.linesIterator.toVector
    val gen = lines.indexWhere(_.contains("Generate"))
    val agg = lines.indexWhere(_.contains("minhash_union"))
    assert(gen >= 0 && agg >= 0 && gen < agg,
      s"posexplode should apply to post-agg sketches only\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("minhash LSH band shuffle carries no shingle arrays; verification join is co-partitioned") {
    val p = plan("dedup_minhash_lsh")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the (band, bsig) exchange must not replicate the h60 arrays 32×:
    // no Exchange hashpartitioning on band/bsig may list h60 in its output
    val bandExchanges = p.linesIterator.filter(l =>
      l.contains("hashpartitioning") && l.contains("bsig"))
    assert(bandExchanges.forall(!_.contains("h60")),
      s"band shuffle carries shingle arrays\n$p")
  }

  test("big-big fact join aggregates partially and never nested-loops") {
    val p = plan("soql_fact_join")
    // lineitem x orders: both sides large → shuffle/sort join is correct,
    // a broadcast of either fact side or a nested loop is not
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_"), p) // map-side combine before the final agg shuffle
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!reads.contains("l_comment"), s"unpruned lineitem scan: $reads")
  }

  test("parent-child subselect pre-aggregates the child with map-side collect before one join") {
    val p = plan("soql_parent_child_subquery")
    // the child relation aggregates partially (partial_collect_list) before
    // its one shuffle; the join is an equi-join, never correlated/nested
    assert(p.contains("partial_collect_list"), p)
    // the parent's own filter semi-join-prunes the child pre-agg: groups
    // for discarded parents are never collected
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // child scan prunes to the subselect's columns + join key
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!reads.contains("l_comment") && !reads.contains("l_shipmode"), reads)
  }

  test("IVF list join is broadcast; corpus assignment is narrow (one scan side)") {
    val p = plan("similarity_ivf")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("translated dot path plans a broadcast dimension join") {
    val p = plan("soql_dot_path")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("embedding-cosine pair enumeration is a hash equi-join, never a nested loop") {
    val p = plan("dedup_embedding_cosine")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
  }

  test("similarity_lsh broadcasts the probe ring against one un-shuffled corpus scan") {
    val p = plan("similarity_lsh")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("decontaminate broadcasts the eval index — the training corpus is never shuffled for the join") {
    val p = plan("pipeline_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("pack is one source-keyed window shuffle plus the output sort — no joins") {
    val p = plan("pipeline_pack")
    assert(!p.contains("Join"), p)
    val exchanges = p.linesIterator.count(l => l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges <= 2, s"$exchanges exchanges (expected window shuffle + final sort)\n$p")
    // the prefix-sum window must be partitioned by source (parallel streams),
    // never a single global ordering
    assert(p.contains("hashpartitioning(source"), p)
  }

  test("kmeans step folds members with an array-typed partial sum; corpus never joins") {
    val p = plan("embedding_kmeans")
    assert(p.contains("partial_vec_sum_agg"), p)
    assert(!p.contains("Join"), p)
    // the per-dimension posexplode applies to the 16 aggregated centroid
    // sums, never to corpus vectors (same discipline as source_overlap)
    val lines = p.linesIterator.toVector
    val gen = lines.indexWhere(_.contains("Generate"))
    val agg = lines.indexWhere(_.contains("vec_sum_agg"))
    assert(gen >= 0 && agg >= 0 && gen < agg, s"posexplode must be post-agg\n$p")
  }

  test("repetition is a pure narrow pass: no joins, no shuffle but the output sort") {
    val p = plan("text_repetition")
    assert(!p.contains("Join"), p)
    val exchanges = p.linesIterator.count(l => l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges <= 1, s"$exchanges exchanges (the sorted-run fold needs none)\n$p")
  }

  test("winnow pairs: DF-capped print index self-join, never a nested loop") {
    val p = plan("text_winnow_pairs")
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("cluster sample: narrow assignment + stratum window, no joins at all") {
    val p = plan("embedding_cluster_sample")
    assert(!p.contains("Join"), p)
    assert(p.contains("hashpartitioning(cluster_id"), p)
  }

  test("top users: raw stream collapses via partial agg before the top-k window") {
    val p = plan("events_top_users")
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("incremental dedup: band equi-join only, shingle arrays never cross the band shuffle") {
    val p = plan("dedup_incremental")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    val bandExchanges = p.linesIterator.filter(l =>
      l.contains("hashpartitioning") && l.contains("bsig"))
    assert(bandExchanges.forall(!_.contains("h60")), s"band shuffle carries shingle arrays\n$p")
  }

  test("mixture: one partial-agg corpus shuffle; windows only over the bounded source aggregate") {
    val p = plan("pipeline_mixture")
    assert(p.contains("partial_"), p)
    assert(!p.contains("Join"), p)
    // corpus agg shuffle + constant-key window shuffle + output sort
    val exchanges = p.linesIterator.count(l => l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges <= 3, s"$exchanges exchanges\n$p")
  }

  test("source drift: partial aggs everywhere; the only nested loop is the one-row total broadcast") {
    val p = plan("text_source_drift")
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the corpus-total is a 1-row relation joined as a scalar (broadcast
    // nested loop with a single-row build side — the correct plan); any
    // SECOND nested loop would mean a real relation went un-keyed
    val bnlj = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"$bnlj nested-loop joins\n$p")
  }

  test("stored incremental dedup reads the band store, never the historical documents text") {
    val stored = plan("dedup_incremental_stored")
    // the historical side scans the persisted store...
    assert(stored.contains("graft_band_store"), stored)
    // ...and strictly fewer documents scans than the rescan variant: only
    // the incoming slice's (bands + hashes) remain
    def docScans(p: String) =
      p.linesIterator.count(l => l.contains("FileScan") && l.contains("documents"))
    assert(docScans(stored) < docScans(plan("dedup_incremental")),
      s"stored variant still rescans historical documents\n$stored")
    assert(!stored.contains("CartesianProduct") && !stored.contains("BroadcastNestedLoopJoin"), stored)
  }

  test("stored ingest triage probes the store only — no history scan, no history-key shuffle") {
    val stored = plan("pipeline_ingest_triage_stored")
    assert(stored.contains("graft_triage_store"), stored)
    // the only documents scans are the INCOMING slice's (exact key +
    // band signatures + verify hashes) — strictly fewer than the in-line
    // composite, which additionally scans history for all three
    def docScans(p: String) =
      p.linesIterator.count(l => l.contains("FileScan") && l.contains("documents"))
    assert(docScans(stored) < docScans(plan("pipeline_ingest_triage")),
      s"stored triage still rescans historical documents\n$stored")
    // the exact gate is the folded Bloom literal (BloomFilterMightContain's
    // prettyName), and the confirmation rides broadcast joins: the only
    // exchanges on k are the two INCREMENT-bounded distincts (probe keys,
    // hit set) — the stored key relation itself feeds a broadcast join and
    // never shuffles, so a third k-exchange would mean history shuffled
    assert(stored.contains("might_contain"),
      s"exact gate must be the folded Bloom literal\n$stored")
    val kExchanges = stored.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(k#"))
    assert(kExchanges <= 2,
      s"$kExchanges exchanges on k — the stored key relation shuffled\n$stored")
    assert(!stored.contains("CartesianProduct") &&
      !stored.contains("BroadcastNestedLoopJoin"), stored)
  }

  test("stored triage above the broadcast ceiling: key joins become shuffled equi-joins, never nested-loop") {
    // force the backfill path (maxBroadcastKeys = 0): the two key joins
    // must fall back to SHUFFLED equi-joins on k (SortMergeJoin /
    // ShuffledHashJoin) — the exact relation, only the strategy moves —
    // and never degrade to a nested-loop/cartesian shape
    import org.apache.spark.sql.functions.col
    val docs = Tables.load(spark, dir, "documents")
    val store = java.nio.file.Files.createTempDirectory("graft_triage_plan").toString
    graft.ext.Dedup.buildTriageStore(docs.filter(col("doc_id") % 7 =!= 0), store,
      expectedItems = 10000L)
    val p = graft.ext.Dedup.ingestTriageStored(
        docs.filter(col("doc_id") % 7 === 0), store, maxBroadcastKeys = 0L)
      .queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"fallback path did not shuffle the key joins\n$p")
    assert(p.contains("might_contain"),
      s"exact gate must stay the folded Bloom literal on the fallback path\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    graft.ops.Scale.deleteRecursively(new java.io.File(store))
  }

  test("stored span probe reads the hash store, never the historical documents text") {
    val p = plan("dedup_spans_stored")
    // historical side = the persisted winhashes store...
    assert(p.contains("graft_span_store"), p)
    // ...and no more documents scans than the incoming slice's own
    // base+wins pair (2) — the historical corpus text never rescanned.
    // (Fixed bound, not a compare against plain dedup_spans: r15
    // checkpoints dedup_spans' wins relation, which hides its second
    // scan from THAT plan and would invert the comparison.)
    def docScans(q: String) =
      q.linesIterator.count(l => l.contains("FileScan") && l.contains("documents"))
    assert(docScans(p) <= 2,
      s"stored span probe rescans historical documents\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("knn graph: bucket equi-join only — never an all-pairs product") {
    val p = plan("similarity_knn_graph")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("srpbucket"), p)
    // the per-vector rank window must shuffle only (a, b, cosine) — an
    // exchange on a that still lists a quantized vector column would be a
    // candidates × 1 KB exchange (the 70 GB mistake at 200k vectors)
    val rankExchanges = p.linesIterator.filter(l =>
      l.contains("hashpartitioning(a#")).toSeq
    assert(rankExchanges.nonEmpty, p)
    assert(rankExchanges.forall(l => !l.contains("qa") && !l.contains("qb")),
      s"rank window shuffles vector payloads\n$p")
  }

  test("kmeans run keeps the per-round shape: array-typed partial sum, no corpus joins") {
    val p = plan("embedding_kmeans_run")
    assert(p.contains("partial_vec_sum_agg"), p)
    assert(!p.contains("Join"), p)
    val lines = p.linesIterator.toVector
    val gen = lines.indexWhere(_.contains("Generate"))
    val agg = lines.indexWhere(_.contains("vec_sum_agg"))
    assert(gen >= 0 && agg >= 0 && gen < agg, s"posexplode must be post-agg\n$p")
  }

  test("search takes top-k with per-partition heaps before the rank window") {
    val p = plan("text_search")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("compress ratio is a narrow codegen'd projection — no shuffle but the output sort") {
    val p = plan("text_compress_ratio")
    val exchanges = p.linesIterator.count(l => l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges <= 1, s"$exchanges exchanges\n$p")
    assert(p.contains("deflatelen"), p)
  }

  test("trained IVF keeps the ivf query shape: broadcast probes, corpus never shuffled as vectors") {
    val p = plan("pipeline_ann_trained")
    // candidates come from the broadcast probe equi-join — never a corpus
    // cross product; the corpus side's only wide op is the top-k window
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled into a merge join\n$p")
  }

  test("sharded pack: one (source, shard) window shuffle, no joins") {
    val p = plan("pipeline_pack_sharded")
    assert(!p.contains("Join"), p)
    // window-partition shuffle + output sort only
    val exchanges = p.linesIterator.count(l => l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges <= 2, s"$exchanges exchanges\n$p")
    assert(p.contains("hashpartitioning(source"), s"stream key must shard the window\n$p")
    assert(p.linesIterator.exists(l => l.contains("hashpartitioning") && l.contains("shard")),
      s"shard key missing from the window partitioning\n$p")
  }

  test("novelty: co-partitioned bigram join with partial aggs, never a nested loop") {
    val p = plan("text_novelty")
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("winnow is a narrow native-expression projection — no shuffle but the output sort") {
    val p = plan("text_winnow")
    assert(!p.contains("Join"), p)
    val exchanges = p.linesIterator.count(l => l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges <= 1, s"$exchanges exchanges\n$p")
    assert(p.contains("winnowprints") || p.contains("winnow_prints"), p)
  }

  test("attribution: first touch is a partial min(struct) — no window over raw events") {
    val p = plan("events_attribution")
    assert(p.contains("partial_"), s"first touch must combine map-side\n$p")
    assert(!p.contains("RunningWindowFunction") && !p.contains("Window"),
      s"raw-event window crept in\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("paths: both leads share one user window exchange; rank runs over the path aggregate") {
    val p = plan("events_paths")
    // one exchange for the user window, one for the path agg, one possible
    // tiny rank partition + output — but only ONE hashpartitioning(user_id)
    val userExchanges = p.linesIterator
      .count(l => l.contains("hashpartitioning(user_id") && !l.contains("Reused"))
    assert(userExchanges === 1, s"$userExchanges user_id exchanges\n$p")
    assert(p.contains("partial_"), s"path counts must combine map-side\n$p")
  }

  test("dau/wau: raw events collapse before the 7-way explode, no range self-join") {
    val p = plan("events_dau_wau")
    // the trailing window is a bounded Generate over the DISTINCT user-day
    // set — assert the explode exists and no join degenerates to a
    // nested-loop/cartesian range probe
    assert(p.contains("Generate explode"), s"missing bounded explode\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"range self-join crept in\n$p")
    assert(p.contains("partial_"), s"aggs must combine map-side\n$p")
    assert(!p.contains("Window"), s"no window over raw events expected\n$p")
  }

  test("cooccurrence: session-keyed equi pair join, lookups broadcast, one 1-row nested loop") {
    val p = plan("events_cooccurrence")
    assert(!p.contains("CartesianProduct"), p)
    // the only nested loop is the one-row session-total broadcast
    val bnlj = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"$bnlj nested-loop joins\n$p")
    // per-type counts join back broadcast (bounded ≤ |types| rows)
    assert(p.contains("BroadcastHashJoin"), s"type lookups must broadcast\n$p")
    assert(p.contains("partial_"), s"aggs must combine map-side\n$p")
  }

  test("conversion lag: filtered partial aggs + co-partitioned user join, no raw-event window") {
    val p = plan("events_conversion_lag")
    assert(p.contains("partial_"), s"aggs must combine map-side\n$p")
    assert(!p.contains("Window"), s"no window over raw events expected\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    // the signup/purchase filters must reach the scan side
    assert(p.contains("PushedFilters"), p)
  }

  test("pk-chunked extract: each chunk is its own scan with the range pushed down") {
    val p = plan("extract_pk_chunked")
    assert(p.contains("Union"), s"chunks must union\n$p")
    // every chunk scan pushes its id range to the parquet reader
    val chunkScans = p.linesIterator.count(l =>
      l.contains("PushedFilters") && l.contains("GreaterThanOrEqual(o_orderkey"))
    assert(chunkScans >= 8, s"expected >=8 range-pushed chunk scans, got $chunkScans\n$p")
    assert(p.contains("ReadSchema"), p)
  }

  test("epoch shuffle: per-shard rank window, never a single global sort window") {
    val p = plan("pipeline_epoch_shuffle")
    assert(p.linesIterator.exists(l => l.contains("hashpartitioning(shard_id")),
      s"pos window must partition by shard_id\n$p")
    assert(!p.linesIterator.exists(l => l.contains("Window") && l.contains("SinglePartition")),
      s"global-sort window\n$p")
  }

  test("transitions: lag and both leads share one user window exchange") {
    val p = plan("events_transitions")
    val userExchanges = p.linesIterator
      .count(l => l.contains("hashpartitioning(user_id") && !l.contains("Reused"))
    assert(userExchanges === 1, s"$userExchanges user_id exchanges\n$p")
    assert(p.contains("partial_count"), s"pair counts must combine map-side\n$p")
  }

  test("unigram CE: co-partitioned token join, broadcast total, partial aggs") {
    val p = plan("text_unigram_ce")
    assert(p.contains("partial_"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"1-row total should broadcast\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the token join must not be a nested loop: count the nested-loop joins
    // (exactly the one 1-row total broadcast is allowed)
    val nested = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(nested <= 1, s"$nested nested-loop joins\n$p")
  }

  test("curriculum: per-lang rank window (stratum-parallel), no global single-partition sort") {
    val p = plan("pipeline_curriculum")
    assert(p.linesIterator.exists(l => l.contains("hashpartitioning(lang")),
      s"ntile window must partition by lang\n$p")
    assert(!p.contains("SinglePartition)") ||
      !p.linesIterator.exists(l => l.contains("Window") && l.contains("SinglePartition")),
      s"global-sort ntile\n$p")
    assert(p.contains("partial_"), p)
  }

  test("PQ: codes encode in a narrow pass, query tables broadcast, corpus never merge-joins") {
    val p = plan("similarity_pq")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"query distance tables must broadcast\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled into a merge join\n$p")
  }

  test("triangles: equi-joins only — no cartesian, no nested loop anywhere") {
    val p = plan("graph_triangles")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_count"), s"degree/triangle counts must partial-agg\n$p")
  }

  test("capped triangles keep the equi-join shape; the budget window adds no nested loop") {
    val p = plan("graph_triangles_capped")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the wedge budget is a row_number window on src — present exactly
    assert(p.contains("row_number"), s"wedge budget window missing\n$p")
  }

  test("substring spans: the corpus-wide shuffle carries window hashes, never a nested loop") {
    val p = plan("dedup_spans")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair work must be hash-equi-join only\n$p")
    assert(p.contains("partial_count"), s"dup-hash filter must partial-agg\n$p")
    // the span-merge window partitions by doc over dup hits only; the raw
    // text column must not survive into any exchange (hash computed in the
    // narrow explode before the shuffle)
    val exch = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).mkString("\n")
    assert(!exch.contains("text#"), s"raw text crossed a shuffle\n$exch")
  }

  test("geometry: one partner equi-join on the 8-byte id — the corpus is never scored all-pairs") {
    val p = plan("embedding_geometry")
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop joins allowed are the 1-row count/total
    // broadcasts (cnt, tot, and cnt's reuse under the partner branch)
    val bnl = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnl <= 3, s"$bnl nested-loop joins (only the 1-row broadcasts allowed)\n$p")
    // the partner probe itself must be a hash equi-join, never merged/looped
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin("),
      s"partner join missing\n$p")
    assert(p.contains("partial_count"), s"bucket histogram must partial-agg\n$p")
  }

  test("pack stats ride pack's single source-keyed window exchange") {
    val p = plan("pipeline_pack_stats")
    assert(!p.contains("Join"), s"no join belongs in this plan\n$p")
    val exchanges = p.linesIterator.count(l => l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges <= 3, s"$exchanges exchanges (window + agg + sort expected)\n$p")
  }

  test("span overlap: hash-keyed pair self-join, totals broadcast, no nested loop") {
    val p = plan("dedup_span_overlap")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair work must be hash-equi-join only\n$p")
    assert(p.contains("BroadcastHashJoin"), s"per-source totals must broadcast\n$p")
    val exch = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).mkString("\n")
    assert(!exch.contains("text#"), s"raw text crossed a shuffle\n$exch")
  }

  test("source temperature: one corpus shuffle; windows share the bounded __one exchange") {
    val p = plan("pipeline_source_temperature")
    assert(!p.contains("Join"), s"no join belongs in this plan\n$p")
    assert(p.contains("partial_count"), s"per-source agg must partial-agg\n$p")
    val exchanges = p.linesIterator.count(l => l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges <= 3, s"$exchanges exchanges (agg + __one window + sort expected)\n$p")
  }

  test("zipf: heap cut feeds the rank window; vocab branch reuses the token shuffle") {
    // the topK cut MUST be a TakeOrderedAndProject heap — a rank window
    // over the full vocabulary would funnel every distinct token through
    // one task at web-corpus scale
    val df = SparkEntry.queries("text_zipf")(spark, dir)
    val p = plan("text_zipf")
    assert(p.contains("TakeOrderedAndProject"),
      s"topK cut must be a TakeOrderedAndProject heap, not a full-vocab window\n$p")
    // only the 1-row vocab-total broadcast may join; nothing shuffles into a merge join
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"only the broadcast 1-row totals join belongs here\n$p")
    assert(p.contains("partial_count"), s"token counts must partial-agg\n$p")
    // after execution, AQE must have collapsed the uncapped-vocab branch
    // onto the SAME token-count shuffle (one corpus scan total)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString
    assert(fin.contains("ReusedExchange"),
      s"vocab_size branch must reuse the token-count exchange, not rescan the corpus\n$fin")
  }

  test("SQ: range fold is one partial agg, queries broadcast, corpus never merge-joins") {
    val p = plan("similarity_sq")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"query side must broadcast\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled into a merge join\n$p")
  }

  test("IVF+PQ: probe ring broadcast equi-join, no cartesian, corpus never merge-joins") {
    val p = plan("similarity_ivfpq")
    assert(p.contains("BroadcastHashJoin"), s"probe ring must broadcast-equi-join\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled into a merge join\n$p")
  }

  test("near-dedup composite: co-partitioned anti-join, no cartesian anywhere") {
    val p = plan("pipeline_near_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("LeftAnti"), s"non-keeper drop must be an anti-join\n$p")
  }

  test("multimodal dedup: narrow hash pass + content-key partial agg, blob never shuffles") {
    val p = plan("multimodal_dedup")
    assert(!p.contains("Join"), p)
    assert(p.contains("partial_"), p)
    // the shuffled schema carries the md5, not the payload: no `content`
    // attribute in any exchange line
    val exch = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exch.contains("content#") || exch.contains("content_md5"),
      s"blob payload crossed an exchange\n$exch")
  }

  test("containment pair enumeration is the shingle equi-join, never a nested loop") {
    val p = plan("dedup_containment")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // pair counting aggregates partially before the (a, b) shuffle
    assert(p.contains("partial_"), p)
    // the direction split is a narrow 2-row explode of ONE intersection
    // relation — a self-union would rebuild the whole join tree per branch
    assert(!p.contains("Union"), s"direction split planned as a union\n$p")
  }

  test("cluster split: label table broadcast back onto the corpus, no nested loop") {
    val p = plan("pipeline_cluster_split")
    // the pair-participant label table joins the corpus as a broadcast —
    // the corpus itself must never sort-merge for the label attach
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("hard negatives keep the brute-force shape: queries broadcast, one corpus scan") {
    val p = plan("similarity_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    // only ONE scan of the embeddings relation feeds the scoring join
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("simhash P/R eval: pair-sized equi-joins only, partial agg before the bar rollup") {
    val p = plan("dedup_simhash_eval")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), p)
  }

  test("as-of join is a window over ONE user shuffle — no join operator at all") {
    val p = plan("events_asof_join")
    assert(!p.contains("Join"), s"as-of must be the union-tag window, never a join\n$p")
    val hashEx = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("Reused"))
    assert(hashEx == 1, s"$hashEx hash exchanges (want exactly the user_id window shuffle)\n$p")
  }

  test("interleave never funnels through a single partition — stratum windows + range sort") {
    val p = plan("pipeline_interleave")
    assert(!p.contains("SinglePartition"),
      s"the schedule must be a distributed range sort, never a one-partition window\n$p")
    assert(!p.contains("Join"), p)
    assert(p.contains("rangepartitioning"), s"final arrangement should be a range sort\n$p")
  }

  test("forecast eval joins the bounded bucket series to itself — no nested loops") {
    val p = plan("events_forecast_eval")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_"), s"raw events must partial-agg to buckets first\n$p")
  }

  test("stored paragraph probe equi-joins the 8-byte chunk key — no nested loops") {
    val p = plan("dedup_paragraphs_stored")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_"), p)
  }

  test("status history is windows + one partial agg over the user shuffle — no joins") {
    val p = plan("events_status_history")
    assert(!p.contains("Join"), s"run-length history must never join\n$p")
    assert(p.contains("partial_"), p)
  }

  test("range join equi-joins on the time bucket — never a nested-loop/cartesian plan") {
    val p = plan("events_range_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"interval join must ride the bucket equi-key\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"anchor cut must be a heap, not a global sort\n$p")
    assert(p.contains("partial_"), p)
  }

  test("bm25 heap-cuts before the rank window and broadcasts df + corpus scalars") {
    val p = plan("text_bm25")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"df/totals joins must broadcast (bounded relations)\n$p")
    assert(p.contains("partial_"), p)
  }

  test("feature hashing never joins beyond the co-partitioned norm; partial aggs everywhere") {
    val p = plan("text_feature_hash")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_"), p)
  }

  test("media near-dup equi-joins on the frame hash — never all-pairs") {
    val p = plan("multimodal_near_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_"), p)
  }

  test("dataset card joins nothing bigger than the broadcast 1-row total") {
    val p = plan("pipeline_dataset_card")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"only the 1-row totals broadcast belongs here\n$p")
    assert(p.contains("partial_"), p)
  }

  test("paragraph dedup is two shuffles (chunk-hash window, doc_id reassembly) and no joins") {
    val p = plan("dedup_paragraphs")
    assert(!p.contains("Join"), p)
    val hashEx = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("Reused"))
    assert(hashEx <= 2, s"$hashEx hash exchanges (want keeper window + reassembly only)\n$p")
  }

  test("pii scrub is a narrow codegen'd regexp pass — no joins, no shuffle but the output sort") {
    val p = plan("pipeline_pii_scrub")
    assert(!p.contains("Join"), p)
    val exchanges = p.linesIterator.count(l => l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges <= 1, s"$exchanges exchanges\n$p")
    // the cascade's whole point: each scrub stage's regexp_replace appears
    // EXACTLY once in the plan — a collapsed flat projection re-inlines
    // the chain per output column (4+3+2+1 replaces + re-derived counts)
    val replaces = "regexp_replace".r.findAllIn(p).size
    assert(replaces === 4, s"$replaces regexp_replace sites (want one per stage)\n$p")
  }

  test("gopher quality is a narrow projection — no joins, no shuffle but the output sort") {
    val p = plan("text_gopher_quality")
    assert(!p.contains("Join"), p)
    val exchanges = p.linesIterator.count(l => l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges <= 1, s"$exchanges exchanges\n$p")
  }

  test("stored decontamination broadcasts the eval index; the increment shuffles only doc_id aggs") {
    val p = plan("pipeline_decontaminate_stored")
    assert(p.contains("BroadcastHashJoin"), s"eval index must broadcast\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_"), p)
  }

  test("snapshot diff joins digests on doc_id — text never crosses the exchange") {
    val p = plan("pipeline_snapshot_diff")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    val exch = p.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("Reused")).toSeq
    assert(exch.forall(!_.contains("text#")), s"text shuffled in the diff join\n$p")
  }

  test("boilerplate: digest-keyed frequency count with partial aggs, anti-join never a nested loop over text") {
    val p = plan("text_boilerplate")
    assert(p.contains("partial_"), s"line-df count must map-side combine\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the frequency shuffle and anti-join key on the md5 digest (lh), never raw line text
    val lineEx = p.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("Reused")).toSeq
    assert(lineEx.forall(l => !l.contains("hashpartitioning(line#") &&
      !l.contains("hashpartitioning(line,")), s"line text used as a shuffle key\n$p")
  }

  test("quality model: bounded weight table broadcasts to the scoring join") {
    val p = plan("text_quality_model")
    // the <= dim-row weight relation must broadcast — the test corpus
    // never shuffles to meet it
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop join is the 1-row class-totals broadcast
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 1, p)
    // training counts map-side combine before the bucket shuffle
    assert(p.contains("partial_"), p)
  }

  test("corpus-wide quality scoring: weights broadcast, corpus never shuffles to meet them") {
    val p = plan("text_quality_score")
    // the <= dim-row weight relation broadcasts to a LEFT join (all-unseen
    // docs keep their row); the corpus side meets it without an exchange
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("LeftOuter"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop join is the 1-row class-totals broadcast
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 1, p)
    // training counts and the per-doc score sum map-side combine
    assert(p.contains("partial_"), p)
  }

  test("stored boilerplate probe reads the line-df store, never the historical documents text") {
    val p = plan("text_boilerplate_stored")
    // historical side = the persisted (h, df) index...
    assert(p.contains("graft_linedf_store"), p)
    // ...scanning only the 8-byte key + count, never historical line text
    val storeScan = p.linesIterator.filter(l =>
      l.contains("FileScan") && l.contains("graft_linedf_store")).mkString
    assert(storeScan.contains("ReadSchema: struct<h:bigint,df:bigint>"),
      s"store scan should read exactly (h, df)\n$storeScan")
    // O(increment): no more documents scans than the batch operator's own
    // lines+rebuild pair needs for the increment slice alone
    def docScans(q: String) =
      q.linesIterator.count(l => l.contains("FileScan") && l.contains("documents"))
    assert(docScans(p) <= docScans(plan("text_boilerplate")),
      s"stored boilerplate probe rescans historical documents\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("DSIR: the dim-bounded log-ratio table broadcasts; the corpus never sort-merge-joins") {
    for (q <- Seq("pipeline_dsir_weights", "pipeline_dsir_weights_stored")) {
      val p = plan(q)
      // per-doc bucket counts meet the <= dim-row table via broadcast only
      assert(p.contains("BroadcastHashJoin"), s"$q: log-ratio join not broadcast\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q: corpus-sized shuffle join\n$p")
      // bucket and per-doc aggregations combine map-side
      assert(p.contains("partial_"), s"$q: no map-side partial agg\n$p")
      assert(!p.contains("CartesianProduct"), s"$q\n$p")
    }
  }

  test("LM perplexity filter probes the model via equi-joins — never a fold, never a corpus-sized nested loop") {
    // the vocab²-bounded model tables meet the term relation as HASH
    // equi-joins (broadcast at this scale; shuffle-keyed beyond) — a
    // folded-literal model would show NO term-side joins at all. The
    // serve paths carry the whole probe in one lazy plan:
    for (q <- Seq("pipeline_perplexity_stored", "pipeline_perplexity_shard")) {
      val p = plan(q)
      assert(p.linesIterator.count(l =>
        l.contains("HashJoin") && !l.contains("Reused")) >= 3,
        s"$q: model joins missing — folded?\n$p")
      assert(!p.contains("CartesianProduct"), s"$q\n$p")
      // count aggregations combine map-side before their shuffles
      assert(p.contains("partial_"), s"$q: no map-side partial agg\n$p")
    }
    // the in-line filter materializes its scored relation ONCE (r15: the
    // tertile cutoffs and the bucketing both read it — one corpus pass
    // instead of two), so its final plan shows only the broadcast cutoff
    // join over the materialized relation; the model-probe join shape
    // itself is locked via the serve twins above, whose scoring tail is
    // the same scoreTerms code path.
    // r16 (ADVICE r15): assert the OBSERVABLE property — the documents
    // relation is scanned at most once in the final plan — rather than the
    // 'ExistingRDD' node name, which pinned the localCheckpoint
    // implementation detail (a persist/cache-based equivalent would be
    // equally correct and must not fail this lock).
    val inline = plan("pipeline_perplexity_filter")
    assert(inline.linesIterator.count(l =>
      l.contains("FileScan") && l.contains("documents")) <= 1,
      s"in-line filter should score into a materialized relation (one corpus pass)\n$inline")
    assert(inline.contains("BroadcastHashJoin"),
      s"cutoff join should broadcast the ≤-langs cuts\n$inline")
    assert(!inline.contains("CartesianProduct") &&
      !inline.contains("SortMergeJoin"), inline)
    // the SERVE path's smoothing totals are meta literals — no 1-row
    // broadcast nested loop survives to the stored plan
    assert(!plan("pipeline_perplexity_stored").contains("BroadcastNestedLoopJoin"),
      "stored serve should carry totals as folded meta literals")
  }

  test("hier assignment keys are non-nullable and no planted isnotnull re-computes the assignment subtree") {
    // The r13 regression class: functions.element_at is null-on-out-of-
    // bounds, so an un-coalesced member lookup makes list_id NULLABLE —
    // every join on it then plants an isnotnull filter whose condition
    // INLINES (re-computes) the whole two-level assignment per row
    // (measured 2× on every hier query, caught only by a manual plan
    // diff). This locks both halves: the key's nullability metadata and
    // the absence of the inlined-recompute filter signature. Red if any
    // coalesce guard in hierAssignCols is dropped.
    // nullability is asserted where list_id is COMPUTED in-plan (the
    // in-line hier family and the store-served assignment projection);
    // `similarity_ivf_hier_stored`'s output list_id rides the store's
    // lists SCAN, and Spark file sources force scan columns nullable —
    // there the planted isnotnull is a pushed parquet filter (cheap and
    // harmless), so only the no-recompute half applies.
    val computedKey = Map(
      "similarity_ivf_hier" -> "list_id",
      "pipeline_ann_trained_hier" -> "list_id",
      "pipeline_ann_sampled_trained" -> "list_id",
      "similarity_assign_stored" -> "cluster_id")
    for (q <- computedKey.keys.toSeq.sorted :+ "similarity_ivf_hier_stored") {
      val df = SparkEntry.queries(q)(spark, dir)
      val key = computedKey.getOrElse(q, "list_id")
      assert(df.schema.fieldNames.contains(key), s"$q lost its $key column")
      computedKey.get(q).foreach { k =>
        df.schema.fields.filter(f => f.name == k || f.name == "gidx").foreach { f =>
          assert(!f.nullable,
            s"$q: ${f.name} is nullable — joins on it will plant assignment-recomputing isnotnull filters")
        }
      }
      val p = df.queryExecution.executedPlan.toString
      for (sig <- Seq("isnotnull(element_at", "isnotnull(coalesce", "isnotnull(transform"))
        assert(!p.contains(sig),
          s"$q: planted `$sig…` filter — the assignment subtree is re-computed per row\n${p.take(4000)}")
    }
  }

  test("trained topic cards keep the seeded variant's plan shape: one assignment equi-join feeds the explode") {
    // training (lloydFinal) runs at CONSTRUCTION time as bounded collects;
    // the executed plan must stay the seeded pipeline's — the converged
    // centroids arrive folded, never as a joined relation
    val trained = plan("pipeline_topic_cards_trained")
    val seeded = plan("pipeline_topic_cards")
    def shape(p: String) = (
      p.linesIterator.count(_.contains("Generate")),
      p.linesIterator.count(l => l.contains("Join") && !l.contains("Reused")),
      p.linesIterator.count(l => l.contains("Exchange") && !l.contains("Reused")))
    assert(shape(trained) === shape(seeded),
      s"trained cards diverge from the seeded plan shape\n--- trained:\n$trained\n--- seeded:\n$seeded")
    assert(!trained.contains("CartesianProduct"), trained)
    // term tf/df aggregations combine map-side before their shuffles
    assert(trained.contains("partial_"), trained)
  }

  test("edit-distance certificate: the DP runs only above the pair joins, all joins are equi") {
    val p = plan("dedup_edit_verified")
    // the character DP must never fan out: no nested-loop/cartesian path
    // anywhere — candidates come from the banded equi-join only
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // levenshtein is evaluated in exactly one projection (the post-join
    // pair relation), never against a corpus-wide scan
    val levLines = p.linesIterator.filter(_.contains("levenshtein")).toSeq
    assert(levLines.nonEmpty, p)
    assert(levLines.forall(l => !l.contains("Scan")),
      s"levenshtein pushed into a scan-side stage:\n${levLines.mkString("\n")}")
  }

  test("store report probes read ONLY the store relation, as one kernel") {
    // the two sketch queries are checked twins whose exact side reads raw
    // events; their store side is the report, with the registry's arguments
    val sketch = ExtQueries.sketchStore(spark, dir)
    val reports = Seq("events_quantile_hist_stored", "events_quantile_hist_range",
        "events_quantile_drift").map(q => q -> SparkEntry.queries(q)(spark, dir)) ++ Seq(
      "events_distinct_sketch_stored" -> graft.ext.SketchStore.trailingDistinct(spark, sketch),
      "events_distinct_sketch_range" ->
        graft.ext.SketchStore.rangeDistinct(spark, sketch, "2024-01-08", "2024-01-21"))
    for ((q, df) <- reports) {
      val executed = df.queryExecution.executedPlan
      val p = executed.toString
      assert(!p.contains("events.parquet"),
        s"$q scans raw events — the store exists so it never has to:\n${p.take(3000)}")
      assert(p.contains("days"), s"$q does not read the store's days relation\n${p.take(2000)}")
      val heavy = PlanNodes.collect(executed) {
        case n if n.nodeName.contains("Window") || n.nodeName == "Sort" ||
          n.nodeName.contains("Aggregate") || n.nodeName.contains("Exchange") => n.nodeName
      }
      assert(heavy.isEmpty, s"$q plans $heavy — the report is one kernel over the store rows\n$p")
    }
  }

  /** Plan-tree walks that look inside adaptive plans. */
  private object PlanNodes extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
}
