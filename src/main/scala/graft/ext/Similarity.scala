package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (SURVEY.md §2.8 E2).
  *
  * Scoring core (shared by both variants, and by
  * [[Dedup.embeddingCosine]]): vectors are quantized to integers
  * (round(x·10⁴)) ONCE per row; dot products and norms are exact BIGINT
  * sums over the quantized arrays; cosine is a single IEEE division of
  * exact integers — bit-identical across Spark and the DuckDB oracle, so
  * top-k ranking is fully deterministic (ties broken by vec_id).
  */
object Similarity {

  /** (vec_id, quantized vector, squared norm) in ONE narrow pass — both
    * query and corpus branches derive from this relation; the corpus side
    * is scanned exactly once per consumer (the query branch reads with a
    * pushed vec_id filter). */
  private[graft] def quantized(embeddings: DataFrame): DataFrame =
    quantizeCols(Dedup.spread(embeddings))

  /** The bare quantize projection (no [[Dedup.spread]] — spread inspects
    * `.rdd`, which a STREAMING DataFrame cannot answer): the streaming
    * serving paths quantize arriving rows with this exact definition. */
  private def quantizeCols(embeddings: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    embeddings
      .select(col("vec_id"), expr("vec_quantize(embedding)").as("q"))
      .withColumn("nrm", expr("vec_dotl(q, q)"))
  }

  /** Shared exact-scoring kernel: every corpus vector scored against every
    * query vector (query set broadcast — one scan of the big side, no
    * shuffle of it). Emits (query_id, vec_id, cosine); the consumers below
    * differ only in how they slice the per-query ranking. */
  private def cosineScored(vecs: DataFrame, nQueries: Int): DataFrame = {
    val queries = vecs.filter(col("vec_id") < nQueries).toDF("query_id", "qq", "nq")
    vecs.toDF("vec_id", "qv", "nv")
      .crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("dot", expr("vec_dotl(qq, qv)"))
      .withColumn("cosine", expr("dot / (sqrt(CAST(nq AS DOUBLE)) * sqrt(CAST(nv AS DOUBLE)))"))
  }

  /** Per-query dense rank → the canonical output shape (query_id, rank,
    * neighbor_id, cosine): a per-query-partition window (top-k heap under
    * AQE) over whatever candidate slice the caller scored. */
  private def rankSlice(scored: DataFrame, lo: Int, hi: Int): DataFrame = {
    val rk = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(rk))
      .filter(col("rank") > lo && col("rank") <= hi)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        expr("round(cosine, 6)").as("cosine"))
      .orderBy("query_id", "rank")
  }

  /** Brute-force cosine top-k: the exact baseline. The (small) query set is
    * broadcast against the full corpus — one scan of the big side, no
    * shuffle of it; ranking is a per-query-partition window (top-k heap
    * under AQE). At 1000 executors this is the classic "scan once, rank
    * locally" shape; the LSH variant below is the sub-linear path. */
  def bruteForceTopK(embeddings: DataFrame, nQueries: Int = 10, k: Int = 10): DataFrame =
    rankSlice(cosineScored(quantized(embeddings), nQueries), 0, k)

  /** RADIUS (range) search — the other query mode every vector store
    * serves next to top-k: ALL corpus vectors within cosine ≥ `threshold`
    * of each query, unranked (result size is data-dependent, which is the
    * point — "everything at least this similar", the retrieval mode
    * dedup-audit and recall-floor workflows need; top-k would truncate a
    * dense neighborhood and pad a sparse one).
    *
    * Scale shape: the shared exact-scoring kernel — broadcast query set,
    * ONE corpus scan, no shuffle of the big side — then a predicate
    * instead of [[rankSlice]]'s window: NO per-query ranking at all, so
    * the plan is fully pipelined (scan → score → filter, one
    * whole-stage-codegen span; nothing accumulates per query). For large
    * query sets, swap the scoring stage for the IVF/LSH candidate
    * generators, threshold unchanged.
    *
    * Determinism: the exact-integer quantized dot and the one IEEE
    * division shared with [[bruteForceTopK]]; the `>= threshold` cut
    * compares the same double both engines compute, and output rounds to
    * 6 after the cut. */
  def rangeSearch(embeddings: DataFrame, nQueries: Int = 10,
                  threshold: Double = 0.3): DataFrame =
    cosineScored(quantized(embeddings), nQueries)
      .filter(col("cosine") >= threshold)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        expr("round(cosine, 6)").as("cosine"))
      .orderBy("query_id", "neighbor_id")

  /** HARD-NEGATIVE MINING for retrieval training: per query, the corpus
    * vectors ranked just BELOW the presumed positives — similar enough to
    * be informative, ranked low enough to (probably) be wrong answers.
    * Contrastive training (InfoNCE-style) is dominated by negative quality;
    * random negatives are too easy, top-ranked ones are false negatives.
    *
    * Two-stage slice, mirrored exactly in the oracle:
    *  1. NEAR-DUP CEILING — candidates with cosine ≥ `dupCeil` are dropped
    *     BEFORE ranking (they are unlabeled positives/duplicates, not
    *     negatives; keeping them would poison the training signal);
    *  2. RANK BAND — of the remainder, skip the top `posK` (likely true
    *     positives) and emit the next `negK` per query.
    *
    * `rank` is the post-ceiling rank (posK+1 … posK+negK), so consumers
    * can weight negatives by hardness. cosine is the exact-integer IEEE
    * division shared with [[bruteForceTopK]], so the `< dupCeil` cut and
    * the ordering are bit-identical across engines.
    *
    * Scale shape: identical to the brute-force baseline — broadcast query
    * set, ONE corpus scan, only candidate rows (not the corpus) reach the
    * per-query top-k window. For a large query set, swap the scoring stage
    * for the IVF/LSH candidate generators above; the slice is unchanged. */
  def hardNegatives(embeddings: DataFrame, nQueries: Int = 10, posK: Int = 5,
                    negK: Int = 10, dupCeil: Double = 0.95): DataFrame =
    rankSlice(
      cosineScored(quantized(embeddings), nQueries).filter(col("cosine") < dupCeil),
      posK, posK + negK)

  /** Hyperplane count scaled to the corpus: enough sign bits that the
    * expected bucket occupancy stays ≈ `bucketTarget` regardless of n
    * (2^planes ≈ n / bucketTarget). n = 500 → 4 planes; n = 10⁹ → 25 —
    * per-query candidate work stays bounded as the corpus grows, which is
    * what makes the pipeline sub-linear (a fixed plane count degrades to
    * n/2^b per bucket: linear). */
  def planesFor(n: Long, bucketTarget: Int = 32): Int =
    math.max(4, math.ceil(math.log(n.toDouble / bucketTarget) / math.log(2)).toInt)

  /** IVF (inverted-file) ANN — the other classic scale path, complementing
    * SRP-LSH: a small coarse quantizer of `nList` centroid vectors
    * partitions the corpus into lists; a query probes its `nProbe` nearest
    * lists and exact-reranks only those lists' members.
    *
    * Centroid choice is deterministic (the corpus vectors with vec_id in
    * [centroidBase, centroidBase + nList), in id order) so the DuckDB
    * oracle can replay the identical algorithm — a k-means fit would
    * converge engine-specifically. The quantizer is collected to the
    * driver and constant-folded into the assignment expression: IVF coarse
    * quantizers are RAM-resident by design (nList ≈ √n even at 10⁹
    * vectors is ~32k rows), which is what buys the scale shape:
    *
    *  - corpus assignment is a NARROW per-row argmax over the folded
    *    centroid array — the corpus is scanned once and never shuffled;
    *  - probes explode the tiny query set × nProbe list ids and broadcast;
    *  - each corpus vector lives in exactly ONE list (unlike multi-probe
    *    SRP rings), so the list equi-join yields no duplicate candidates
    *    and touches ≈ nProbe/nList of the corpus per query;
    *  - only the candidate set (not the corpus) shuffles into the top-k
    *    window.
    *
    * Ties everywhere break to the lower id: argmax = FIRST index holding
    * the max (array_position), probe/rerank windows order by
    * (score DESC, id ASC) — mirrored exactly in the oracle. */
  /** Constant-folded coarse quantizer: the nList centroid vectors (corpus
    * rows with vec_id in [centroidBase, centroidBase+nList), id order)
    * collected and rendered as array literals — quantizers are RAM-resident
    * by design (nList ≈ √n is ~32k rows even at 10⁹ vectors). */
  private final case class Quantizer(cq: String, cn: String, cid: String)

  /** Cosine-to-each-centroid scores array over folded centroid literals
    * (`cq` = vector-of-vectors, `cn` = squared norms) — the shared narrow
    * assignment kernel of ivfTopK / kmeansStep / kmeansRun / clusterSample. */
  private def centroidScoresExpr(cq: String, cn: String, n: Int): String =
    s"""transform(sequence(0, ${n - 1}), i ->
       |  vec_dotl(q, element_at($cq, i + 1))
       |    / (sqrt(CAST(nrm AS DOUBLE)) * sqrt(CAST(element_at($cn, i + 1) AS DOUBLE))))""".stripMargin
  private def foldQuantizer(vecs: DataFrame, nList: Int, centroidBase: Int): Quantizer = {
    val cents = vecs
      .filter(col("vec_id") >= centroidBase && col("vec_id") < centroidBase + nList)
      .orderBy("vec_id")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
    require(cents.length == nList, s"expected $nList centroids, found ${cents.length}")
    Quantizer(
      cents.map(_._2.mkString("array(", "L,", "L)")).mkString("array(", ", ", ")"),
      cents.map(_._3).mkString("array(", "L, ", "L)"),
      cents.map(_._1).mkString("array(", "L, ", "L)"))
  }

  def ivfTopK(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
              nList: Int = 16, nProbe: Int = 4, centroidBase: Int = 100): DataFrame = {
    val vecs = quantized(embeddings)
    ivfQuery(vecs, foldQuantizer(vecs, nList, centroidBase), nList, nQueries, k, nProbe)
  }

  /** IVF against a TRAINED coarse quantizer — the composition users
    * actually run: [[kmeansRun]]'s converged centroids (unnormalized
    * member-sum vectors; labels stay the seed ids, in id order) replace
    * the raw corpus vectors as the quantizer, then the query path is
    * byte-for-byte the [[ivfTopK]] plan. Training cost is `iters` narrow
    * scans + one `vec_sum_agg` partial-agg shuffle each; clusters that die
    * during training drop out of the quantizer (n may be < nList). Oracle
    * = the two proven oracles chained: kmeansRun's CTE blocks feed ivf's
    * assignment/probe/rerank CTEs. */
  def ivfTrainedTopK(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
                     nList: Int = 16, nProbe: Int = 4, centroidBase: Int = 100,
                     iters: Int = 3): DataFrame = {
    val vecs = quantized(embeddings)
    val cents = lloydFinal(vecs, nList, centroidBase, iters)
      .orderBy("cluster_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](2).toArray))
    require(cents.length >= nProbe,
      s"only ${cents.length} surviving clusters < nProbe=$nProbe")
    ivfQuery(vecs, centroidLits(cents), cents.length, nQueries, k, nProbe)
  }

  /** [[ivfTrainedTopK]] with HIERARCHICAL assignment end to end — the
    * train-then-search pipeline with the flat O(nList·d) arithmetic
    * retired from BOTH halves: training rounds run [[lloydFinalHier]]'s
    * two-level per-round assignment, and the query path is
    * [[ivfHierTopK]]'s two-level assign/probe over the converged
    * member-sum centroids (leaders = the g lowest surviving cluster_ids,
    * the same rule every round used). Deterministic throughout (the
    * family's argmax/lower-id tie rules at both levels), so the oracle
    * chains the hier training rounds into the hier assignment/probe/rerank
    * CTEs; nGroups = 1 degenerates to [[ivfTrainedTopK]] bit-for-bit
    * (spec-asserted). */
  /** `trainSamplePct` < 100: the Lloyd rounds fit on the deterministic
    * md5-bucket sample (+ seeds) while the assignment/probe/rerank path
    * still covers the FULL corpus — the production shape at 100 TB, where
    * quantizer fitting is a few-percent statistics job and only the one
    * final assignment touches every vector. */
  def ivfTrainedHierTopK(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
                         nList: Int = 16, nProbe: Int = 4,
                         centroidBase: Int = 100, iters: Int = 3,
                         nGroups: Int = 0, trainSamplePct: Int = 100): DataFrame = {
    val vecs = quantized(embeddings)
    val g = if (nGroups > 0) nGroups
            else math.ceil(math.sqrt(nList.toDouble)).toInt
    val cents = lloydFinalHier(
        trainSlice(vecs, trainSamplePct, centroidBase, nList),
        nList, centroidBase, iters, g)
      .orderBy("cluster_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](2).toArray))
    require(cents.length >= g,
      s"only ${cents.length} surviving clusters < nGroups=$g")
    val scored = hierAssigned(vecs, hierFromCents(cents, g))
    val assigned = scored
      .withColumn("list_id", expr(hierListIdExpr))
      .select("vec_id", "q", "nrm", "list_id")
    val probes = scored.filter(col("vec_id") < nQueries)
      .withColumn("list_id", explode(expr(hierProbeListsExpr(nProbe))))
      .select(col("vec_id").as("query_id"), col("q").as("qq"),
        col("nrm").as("nq"), col("list_id"))
    rerankCandidates(assigned, probes, k)
  }

  /** The nProbe-nearest-lists expression over a row's `scores` array:
    * struct sort = (score DESC, centroid index ASC), mapped back to list
    * ids — shared by [[ivfQuery]] and [[ivfAgainstStore]] so the in-line
    * and stored probe semantics are ONE definition. */
  private def probeListsExpr(qz: Quantizer, n: Int, nProbe: Int): String =
    s"""transform(slice(array_sort(transform(sequence(0, ${n - 1}),
       |  i -> struct(0e0 - element_at(scores, i + 1) AS s, i AS i))), 1, $nProbe),
       |  p -> element_at(${qz.cid}, p.i + 1))""".stripMargin

  /** The shared IVF query path: narrow argmax assignment over `n` folded
    * centroids, nProbe broadcast probes, candidate-only top-k rerank. */
  private def ivfQuery(vecs: DataFrame, qz: Quantizer, n: Int,
                       nQueries: Int, k: Int, nProbe: Int): DataFrame = {
    val scored = vecs.withColumn("scores", expr(centroidScoresExpr(qz.cq, qz.cn, n)))
    // one narrow pass: every corpus vector lands in its argmax-cosine list
    val assigned = scored
      .withColumn("list_id",
        expr(s"element_at(${qz.cid}, CAST(array_position(scores, array_max(scores)) AS INT))"))
      .select("vec_id", "q", "nrm", "list_id")
    // struct sort = (score DESC, centroid index ASC); explode the nProbe
    // nearest lists per query
    val probes = scored.filter(col("vec_id") < nQueries)
      .withColumn("list_id", explode(expr(probeListsExpr(qz, n, nProbe))))
      .select(col("vec_id").as("query_id"), col("q").as("qq"), col("nrm").as("nq"), col("list_id"))
    rerankCandidates(assigned, probes, k)
  }

  /** The shared candidate-only rerank tail: assigned lists meet the
    * broadcast probe set on the list-id equi-join, exact cosine reranks
    * only the candidates, top-k per query — one definition under
    * [[ivfQuery]], [[ivfHierTopK]], and (shape-wise) [[ivfAgainstStore]]. */
  private def rerankCandidates(assigned: DataFrame, probes: DataFrame,
                               k: Int): DataFrame = {
    val rk = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id").asc)
    assigned.join(broadcast(probes), "list_id")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        expr("vec_dotl(qq, q) / (sqrt(CAST(nq AS DOUBLE)) * sqrt(CAST(nrm AS DOUBLE)))"))
      .withColumn("rank", row_number().over(rk))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        expr("round(cosine, 6)").as("cosine"), col("list_id"))
      .orderBy("query_id", "rank")
  }

  // ---- hierarchical (two-level) coarse quantizer ---------------------------

  /** Two-level folded quantizer: `g` LEADER vectors (the first g centroids)
    * plus, per leader group, the member centroids' vectors/norms/ids —
    * grouping each centroid under its argmax-cosine leader (ties to the
    * lower leader index), computed driver-side over the same bounded
    * centroid collect every IVF path already makes. Every leader is its own
    * nearest leader (cos = 1), so no group is ever empty. */
  /** Carries the two-level quantizer as TYPED driver data (id, vector,
    * squared norm); [[hierAssignCols]] folds it into single pre-built
    * `typedLit` Literal nodes — one Literal per array, never a parsed
    * `array(array(...))` constructor tree. A 448-centroid quantizer as
    * SQL text is a ~60k-node tree that the analyzer and constant-folder
    * re-walk on EVERY plan construction (~1.4 s fixed per probe call,
    * measured — the cost that throttled the serving loop); as typedLit it
    * is 5 leaf nodes. */
  private final case class HierQuantizer(
      leaders: Array[(Long, Array[Long], Long)],
      members: Array[Array[(Long, Array[Long], Long)]], g: Int)

  private def foldHierQuantizer(vecs: DataFrame, nList: Int, centroidBase: Int,
                                nGroups: Int): HierQuantizer = {
    val cents = vecs
      .filter(col("vec_id") >= centroidBase && col("vec_id") < centroidBase + nList)
      .orderBy("vec_id")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    require(cents.length == nList, s"expected $nList centroids, found ${cents.length}")
    hierFromCents(cents, nGroups)
  }

  /** Fold an (id, vector) centroid set into the two-level quantizer —
    * shared by [[foldHierQuantizer]] (in-line, corpus rows) and the hier
    * store probe/append path (centroids read back from the store); norms
    * are recomputed exactly, with [[centroidLits]]' BIGINT guard. */
  private def hierFromCents(centVecs: Array[(Long, Array[Long])],
                            nGroups: Int): HierQuantizer = {
    val nList = centVecs.length
    val cents = centVecs.map { case (id, v) =>
      val n = v.foldLeft(BigInt(0))((acc, x) => acc + BigInt(x) * BigInt(x))
      require(n <= Long.MaxValue,
        s"centroid $id squared norm $n overflows BIGINT — rescale the quantization")
      (id, v, n.toLong)
    }
    val g = if (nGroups > 0) nGroups else math.ceil(math.sqrt(nList.toDouble)).toInt
    require(g <= nList, s"nGroups=$g exceeds nList=$nList")
    val leaders = cents.take(g)
    def cos(a: (Long, Array[Long], Long), b: (Long, Array[Long], Long)): Double = {
      var dot = 0L; var i = 0
      while (i < a._2.length) { dot += a._2(i) * b._2(i); i += 1 }
      dot / (math.sqrt(a._3.toDouble) * math.sqrt(b._3.toDouble))
    }
    // argmax leader per centroid, FIRST max wins (≡ lower leader id)
    def groupOf(c: (Long, Array[Long], Long)): Int = {
      var best = 0; var bestCos = cos(c, leaders(0)); var i = 1
      while (i < g) {
        val s = cos(c, leaders(i))
        if (s > bestCos) { best = i; bestCos = s }
        i += 1
      }
      best
    }
    val members: Array[Array[(Long, Array[Long], Long)]] = {
      val buf = Array.fill(g)(Vector.newBuilder[(Long, Array[Long], Long)])
      cents.foreach(c => buf(groupOf(c)) += c) // id order preserved per group
      buf.map(_.result().toArray)
    }
    HierQuantizer(leaders = leaders, members = members, g = g)
  }

  /** The two-level assignment columns over a [[quantized]] relation —
    * cascaded selects so each stage (and each folded literal) appears
    * exactly once in the plan: `s1` = cosine to each leader, `gidx` = the
    * argmax group (1-based), `cq`/`cn`/`cid` = that group's member
    * arrays, `s2` = cosine to each member. Per-row arithmetic is
    * O((g + nList/g)·d) instead of the flat quantizer's O(nList·d). */
  private def hierAssigned(vecs: DataFrame, hq: HierQuantizer): DataFrame =
    hierAssignCols(hq).foldLeft(vecs) { case (df, (n, c)) => df.withColumn(n, c) }

  /** The same assignment stages as pre-built (name, Column) pairs. The
    * quantizer arrays enter as `typedLit` Literals (5 leaf nodes total),
    * so a pre-bound prober ([[storeProbeColsFn]]) re-applies them per
    * serving batch with NO per-trigger parse, analysis walk, or
    * constant-folding of a 60k-node array-constructor tree — semantically
    * the exact SQL shape the oracle replays (element_at / transform /
    * the same IEEE divisions), just born folded. */
  private def hierAssignCols(hq: HierQuantizer): Seq[(String, org.apache.spark.sql.Column)] = {
    val lq = typedLit(hq.leaders.map(_._2.toSeq).toSeq)
    val ln = typedLit(hq.leaders.map(_._3).toSeq)
    val cq3 = typedLit(hq.members.map(_.map(_._2.toSeq).toSeq).toSeq)
    val cn2 = typedLit(hq.members.map(_.map(_._3).toSeq).toSeq)
    val cid2 = typedLit(hq.members.map(_.map(_._1).toSeq).toSeq)
    def dotl(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      call_function("vec_dotl", a, b)
    Seq(
      "s1" -> transform(sequence(lit(0), lit(hq.g - 1)), i =>
        dotl(col("q"), element_at(lq, (i + lit(1)).cast("int"))) /
          (sqrt(col("nrm").cast("double")) *
            sqrt(element_at(ln, (i + lit(1)).cast("int")).cast("double")))),
      "gidx" -> array_position(col("s1"), array_max(col("s1"))).cast("int"),
      // functions.element_at is null-on-out-of-bounds (nullable = true),
      // unlike the ANSI SQL element_at the old parsed strings produced —
      // and a NULLABLE cid poisons list_id, making every join on it plant
      // an isnotnull filter that RE-COMPUTES this whole assignment per
      // row (measured 2× on the hier queries). gidx is an argmax position,
      // always in range, so the coalesce is a runtime no-op that restores
      // the non-nullable metadata.
      "cq" -> coalesce(element_at(cq3, col("gidx")), typedLit(Seq.empty[Seq[Long]])),
      "cn" -> coalesce(element_at(cn2, col("gidx")), typedLit(Seq.empty[Long])),
      "cid" -> coalesce(element_at(cid2, col("gidx")), typedLit(Seq.empty[Long])),
      "s2" -> transform(sequence(lit(1), size(col("cq"))), j =>
        dotl(col("q"), element_at(col("cq"), j)) /
          (sqrt(col("nrm").cast("double")) *
            sqrt(element_at(col("cn"), j).cast("double")))))
  }

  private val hierListIdExpr =
    "element_at(cid, CAST(array_position(s2, array_max(s2)) AS INT))"

  /** nProbe nearest member lists WITHIN the argmax group, by the level-2
    * scores — struct sort (score DESC, member index ASC ≡ member id ASC);
    * all of them when the group is smaller than nProbe. */
  private def hierProbeListsExpr(nProbe: Int): String =
    s"""transform(slice(array_sort(transform(sequence(1, size(s2)),
       |  j -> struct(0e0 - element_at(s2, j) AS s, j AS j))), 1, $nProbe),
       |  p -> element_at(cid, p.j))""".stripMargin

  /** [[ivfTopK]] with a HIERARCHICAL coarse quantizer — the measured scale
    * path past the folded-literal ceiling (BENCH_sf10 r11_quantizer_ceiling:
    * plan size never blows up below 4k lists, but flat assignment wall is
    * O(nList·d) per vector — the arithmetic itself). Two-level argmax
    * (leader, then within-group member) cuts per-vector work to
    * O((g + nList/g)·d): 32× fewer dots at nList = 4096, g = 64. The
    * index is a DIFFERENT (cheaper) quantizer, not an approximation of the
    * flat one — assignment and probes are deterministic with the family's
    * tie rules, the oracle replays both levels exactly, and nGroups = 1
    * degenerates to [[ivfTopK]] bit-for-bit (spec-asserted). Probes stay
    * within the query's argmax group: nProbe nearest member lists by the
    * level-2 scores (all of them when the group is smaller). */
  def ivfHierTopK(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
                  nList: Int = 16, nProbe: Int = 4, centroidBase: Int = 100,
                  nGroups: Int = 0): DataFrame = {
    val vecs = quantized(embeddings)
    val hq = foldHierQuantizer(vecs, nList, centroidBase, nGroups)
    val scored = hierAssigned(vecs, hq)
    val assigned = scored
      .withColumn("list_id", expr(hierListIdExpr))
      .select("vec_id", "q", "nrm", "list_id")
    val probes = scored.filter(col("vec_id") < nQueries)
      .withColumn("list_id", explode(expr(hierProbeListsExpr(nProbe))))
      .select(col("vec_id").as("query_id"), col("q").as("qq"),
        col("nrm").as("nq"), col("list_id"))
    rerankCandidates(assigned, probes, k)
  }

  /** [[assignClusters]] through the two-level quantizer — same output
    * relation shape, O((g + nList/g)·d) per row. */
  def assignClustersHier(embeddings: DataFrame, nList: Int = 16,
                         centroidBase: Int = 100, nGroups: Int = 0): DataFrame = {
    val vecs = quantized(embeddings)
    val hq = foldHierQuantizer(vecs, nList, centroidBase, nGroups)
    hierAssigned(vecs, hq)
      .withColumn("cluster_id", expr(hierListIdExpr))
      .select("vec_id", "cluster_id")
  }

  /** One Lloyd iteration of k-means over the embedding corpus — the
    * clustering primitive of corpus curation (topic bucketing, diversity
    * sampling, cluster-balanced mixing). Starting from the same
    * deterministic coarse quantizer as [[ivfTopK]], every vector is
    * assigned to its argmax-cosine centroid (narrow constant-folded pass),
    * and the updated centroid matrix is emitted as (cluster, dimension)
    * rows: member count, exact component sum, the old component, the new
    * component (mean), and the shift.
    *
    * Scale shape: the corpus is scanned once and NEVER shuffled as vectors —
    * `vec_sum_agg` folds each task's members into one dimension-length
    * buffer, so the single shuffle carries one partial-sum array per
    * (cluster, task) (the posexplode-then-sum formulation would shuffle a
    * row per vector×dimension). Iterating = feeding the emitted centroids
    * back as the next quantizer; each round is this same plan.
    *
    * Determinism: sums are exact BIGINTs over quantized components; the
    * mean and shift are single IEEE divisions/subtractions of exact ints —
    * bit-identical in the DuckDB oracle. Empty clusters (a centroid whose
    * vectors all argmax elsewhere) emit no rows on either engine. */
  /** NEAREST-CENTROID CLASSIFIER EVAL — the supervised eval the labeled
    * embedding table invites: train = per-label centroid of the
    * `vec_id % 5 != 0` slice, test = the held-out `% 5 == 0` slice, each
    * test vector predicted as its max-cosine centroid; emitted as the
    * confusion matrix with per-class recall (the [[graft.ext.TextAnalysis.langidConfusion]]
    * report shape — the diagonal is per-label accuracy, off-diagonals say
    * which semantic clusters the embedding space confuses, the one-glance
    * embedding-quality read next to [[recallEval]]).
    *
    * Integer discipline: the centroid is never materialized as a mean —
    * cosine is scale-invariant, so scoring against the per-label SUM of
    * quantized vectors (one `vec_sum_agg` buffer per (label, task)) is
    * EXACTLY scoring against the centroid, and dot/norms stay exact
    * BIGINTs end to end; the single IEEE division (and its round-6) is
    * the only float, same literal shape in the oracle.
    *
    * Scale shape: one training pass folds to |labels| sum-vectors
    * (broadcast); one test-side scan scores |labels| candidates per row
    * (the IVF probe shape); argmax is a per-vector window over a
    * |labels|-bounded candidate set; the confusion agg is ≤ labels²
    * rows. */
  def centroidClassifierEval(embeddings: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    val q = Dedup.spread(embeddings)
      .select(col("vec_id"), col("label"), expr("vec_quantize(embedding)").as("q"))
      .withColumn("nrm", expr("vec_dotl(q, q)"))
    val train = q.filter(col("vec_id") % 5 =!= 0)
    val test  = q.filter(col("vec_id") % 5 === 0)
    val cents = train.groupBy("label").agg(expr("vec_sum_agg(q)").as("cq"))
      .withColumn("cn", expr("vec_dotl(cq, cq)"))
      .select(col("label").as("cand"), col("cq"), col("cn"))
    val scored = test.crossJoin(broadcast(cents))
      .withColumn("dot", expr("vec_dotl(q, cq)"))
      .withColumn("cos", expr("dot / (sqrt(CAST(nrm AS DOUBLE)) * sqrt(CAST(cn AS DOUBLE)))"))
    val rk = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("cand").asc)
    val preds = scored.withColumn("rn", row_number().over(rk)).filter(col("rn") === 1)
      .select(col("vec_id"), col("label").as("actual"), col("cand").as("pred_label"))
    val n = preds.groupBy("actual", "pred_label").agg(count(lit(1)).as("n"))
    val tot = preds.groupBy("actual").agg(count(lit(1)).as("n_actual"))
    n.join(broadcast(tot), "actual")
      .withColumn("recall", expr("round(n / n_actual, 6)"))
      .select(col("actual"), col("pred_label"), col("n"), col("n_actual"), col("recall"))
      .orderBy("actual", "pred_label")
  }

  def kmeansStep(embeddings: DataFrame, nList: Int = 16,
                 centroidBase: Int = 100): DataFrame = {
    val vecs = quantized(embeddings)
    val qz = foldQuantizer(vecs, nList, centroidBase)
    val assigned = vecs.withColumn("scores", expr(centroidScoresExpr(qz.cq, qz.cn, nList)))
      .withColumn("cluster_id",
        expr(s"element_at(${qz.cid}, CAST(array_position(scores, array_max(scores)) AS INT))"))
    assigned.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"), expr("vec_sum_agg(q)").as("sums"))
      .select(col("cluster_id"), col("n_members"),
        posexplode(col("sums")).as(Seq("dim", "sum_x")))
      .withColumn("old_x", expr(
        s"element_at(element_at(${qz.cq}, CAST(cluster_id - $centroidBase + 1 AS INT)), dim + 1)"))
      .select(col("cluster_id"), col("dim").cast("int").as("dim"),
        col("n_members"), col("sum_x"), col("old_x"),
        expr("round(sum_x / n_members, 6)").as("new_x"),
        expr("round(sum_x / n_members - old_x, 6)").as("shift"))
      .orderBy("cluster_id", "dim")
  }

  /** Fold a centroid set into quantizer literals, guarding the BIGINT
    * norm bound loudly (shared by [[kmeansRun]]'s rounds and
    * [[ivfTrainedTopK]]'s trained quantizer). */
  private def centroidLits(cs: Array[(Long, Array[Long])]): Quantizer = {
    val cq = cs.map(_._2.mkString("array(", "L,", "L)")).mkString("array(", ", ", ")")
    val cn = cs.map { case (id, v) =>
      val n = v.foldLeft(BigInt(0))((acc, x) => acc + BigInt(x) * BigInt(x))
      require(n <= Long.MaxValue,
        s"centroid $id squared norm $n overflows BIGINT — rescale the quantization")
      n.toLong
    }.mkString("array(", "L, ", "L)")
    val cid = cs.map(_._1).mkString("array(", "L, ", "L)")
    Quantizer(cq, cn, cid)
  }

  /** The Lloyd iteration harness shared by the flat and hierarchical
    * trainers: collect the deterministic seed centroids, run `step` (one
    * assignment + partial-sum round against the CURRENT centroid set) to
    * `iters` rounds or the exact fixpoint, return the final aggregate.
    * Each round's centroids are a bounded collect (≤ nList rows — coarse
    * quantizers are RAM-resident by design) constant-folded into the next
    * round's plan, so lineage never grows. */
  private def lloydLoop(vecs: DataFrame, nList: Int, centroidBase: Int,
                        iters: Int)
                       (step: Array[(Long, Array[Long])] => DataFrame): DataFrame = {
    require(iters >= 1, "need at least one Lloyd round")
    var cents: Array[(Long, Array[Long])] = vecs
      .filter(col("vec_id") >= centroidBase && col("vec_id") < centroidBase + nList)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    require(cents.length == nList, s"expected $nList centroids, found ${cents.length}")
    var it = 1
    while (it < iters) {
      val next = step(cents).orderBy("cluster_id").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](2).toArray))
      val fixpoint = next.length == cents.length &&
        next.zip(cents).forall { case ((ia, va), (ib, vb)) =>
          ia == ib && java.util.Arrays.equals(va, vb) }
      if (fixpoint) it = iters else { cents = next; it += 1 }
    }
    step(cents)
  }

  /** The Lloyd loop shared by [[kmeansRun]] (reports it) and
    * [[ivfTrainedTopK]] (uses it as the quantizer): `iters` rounds from the
    * deterministic seed, returning the FINAL round's
    * (cluster_id, n_members, sums) aggregate — sums are the unnormalized
    * member-sum centroids (see [[kmeansRun]]'s doc for why). */
  private def lloydFinal(vecs: DataFrame, nList: Int, centroidBase: Int,
                         iters: Int): DataFrame =
    // one Lloyd round against folded centroid literals: narrow argmax
    // assignment + the array-typed partial sum (one buffer per
    // (cluster, task) crosses the shuffle)
    lloydLoop(vecs, nList, centroidBase, iters) { cs =>
      val qz = centroidLits(cs)
      vecs.withColumn("scores", expr(centroidScoresExpr(qz.cq, qz.cn, cs.length)))
        .withColumn("cluster_id",
          expr(s"element_at(${qz.cid}, CAST(array_position(scores, array_max(scores)) AS INT))"))
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_members"), expr("vec_sum_agg(q)").as("sums"))
    }

  /** [[lloydFinal]] with every round's assignment routed through the
    * TWO-LEVEL quantizer — the training-side closure of the
    * r11 quantizer-ceiling receipt: the flat trainer pays the measured
    * O(n·nList·d) assignment arithmetic EVERY round (38 s/round at 4096
    * lists, sf10 — linear in nList), and training at the family's own
    * sizing rule (nList ≈ √n) pays it × iters. Here each round refolds
    * the CURRENT centroids into [[hierFromCents]]' leader/member scheme
    * (leaders = the g lowest surviving cluster_ids — recomputed per round
    * from the same bounded collect the flat loop already makes) and
    * assigns in O((g + nList/g)·d) per vector. Like [[ivfHierTopK]], the
    * result is a DIFFERENT (cheaper) deterministic trainer, not an
    * approximation of the flat one — both levels use the family's
    * argmax/lower-id tie rules, the oracle replays every round's two
    * levels exactly, and nGroups = 1 degenerates to [[lloydFinal]]
    * bit-for-bit (spec-asserted). `g` resolves ONCE from nList (default
    * ⌈√nList⌉) and is fixed across rounds; a round with fewer survivors
    * than g fails loudly (retrain with a smaller g or fewer lists).
    *
    * [[pqLloyd]] deliberately keeps the flat assignment: PQ codebooks are
    * ≤ 256 codewords by the one-byte-code contract, so its per-round
    * argmin is already bounded — the 32×-at-4096-lists win has no
    * analogue there (and its encode is the native compiled `pq_codes`
    * loop). */
  private def lloydFinalHier(vecs: DataFrame, nList: Int, centroidBase: Int,
                             iters: Int, nGroups: Int): DataFrame = {
    val g = if (nGroups > 0) nGroups
            else math.ceil(math.sqrt(nList.toDouble)).toInt
    lloydLoop(vecs, nList, centroidBase, iters) { cs =>
      require(cs.length >= g,
        s"only ${cs.length} surviving clusters < nGroups=$g — retrain with fewer groups")
      hierAssigned(vecs, hierFromCents(cs, g))
        .withColumn("cluster_id", expr(hierListIdExpr))
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_members"), expr("vec_sum_agg(q)").as("sums"))
    }
  }

  /** k-means to (near-)convergence — `iters` Lloyd rounds from the same
    * deterministic quantizer as [[kmeansStep]], the loop corpus curation
    * actually runs. The iteration discipline mirrors [[Dedup.clusters]]'s,
    * on the vector side:
    *
    *  - each round's centroids are collected (nList rows — coarse
    *    quantizers are RAM-resident by design, same as [[foldQuantizer]])
    *    and CONSTANT-FOLDED into the next round's assignment expression,
    *    so every round is one narrow corpus scan + one `vec_sum_agg`
    *    partial-agg shuffle, and lineage never grows (each plan starts at
    *    the parquet scan — no localCheckpoint needed);
    *  - centroids are the UNNORMALIZED member-sum vectors: cosine is
    *    scale-invariant, so argmax against the sum direction ≡ argmax
    *    against the mean, while dots/norms stay exact BIGINTs the oracle
    *    replays bit-for-bit (a mean-vector centroid would need
    *    order-sensitive double sums in an aggregate — engine-divergent).
    *    Bound: |component| ≤ members·10⁴, so the squared norm stays in a
    *    BIGINT while members·10⁴ ≤ √(2⁶³/64) ≈ 3.8e8, i.e. ~3.8e4
    *    worst-case members per cluster at full-scale components (real
    *    unit-ish embeddings have components ~10³, giving ~3.8e5) — the
    *    norm fold below checks this exactly and fails loudly rather than
    *    wrapping; beyond it, rescale the quantization;
    *  - early stop on the EXACT fixpoint only (next sums == current
    *    centroids): further rounds are the identity, so stopping cannot
    *    diverge from the oracle's fixed iteration count;
    *  - empty clusters drop out (no members → no sum vector), exactly as
    *    the oracle's GROUP BY does.
    *
    * Output per surviving (cluster, dim): member count after the final
    * assignment, exact component sum, and the mean component. */
  def kmeansRun(embeddings: DataFrame, nList: Int = 16, centroidBase: Int = 100,
                iters: Int = 3): DataFrame =
    kmeansReport(lloydFinal(quantized(embeddings), nList, centroidBase, iters))

  /** The TRAINING-SET restriction for sampled Lloyd: the deterministic
    * md5-bucket slice (the [[Sampling.assignSplits]] bucket — hex [1, 5)
    * of md5(vec_id), so any engine replays it) UNION the seed rows (the
    * loop's seeds must be present in the training relation). pct = 100
    * is the identity — the unsampled paths stay byte-identical. */
  private def trainSlice(vecs: DataFrame, pct: Int, centroidBase: Int,
                         nList: Int): DataFrame = {
    require(pct >= 1 && pct <= 100, s"trainSamplePct=$pct out of (0, 100]")
    if (pct == 100) vecs
    else vecs.filter(
        expr(s"${Sampling.bucketExpr(1, "vec_id")} < $pct") ||
          (col("vec_id") >= centroidBase && col("vec_id") < centroidBase + nList))
      // materialize the slice ONCE: without this every Lloyd round
      // re-scans the FULL corpus and re-pays the md5 bucket filter per
      // row, eating the sampling win (measured: 21.0 vs 22.9 s at sf10 —
      // 8% — before; the rounds must scan the sample, not the corpus).
      // At 100 TB the same posture writes the slice out once and trains
      // on the materialized relation.
      .localCheckpoint()
  }

  /** [[kmeansRun]] trained through [[lloydFinalHier]]'s two-level per-round
    * assignment — the k-means a 100-TB corpus actually trains once nList
    * passes ~1k (per-round wall O((g + nList/g)·d) per vector instead of
    * the flat O(nList·d) the r11 ceiling receipt measured). Same report
    * shape; nGroups = 1 is bit-identical to [[kmeansRun]] (spec).
    *
    * `trainSamplePct` < 100 runs the Lloyd rounds over the deterministic
    * md5-bucket SAMPLE of the corpus (plus the seed rows) instead of every
    * vector — the other half of the 100-TB training posture: quantizer
    * FITTING is statistics, not coverage, so production trains on a few
    * percent and pays the full corpus only for the one final assignment
    * (here the report aggregates the TRAINING set — the model's own
    * fitting summary; [[ivfTrainedHierTopK]] is where the full corpus
    * meets the sampled-trained quantizer). The bucket is
    * [[Sampling.assignSplits]]' md5 region — RNG-free, layout-independent,
    * replayed exactly by the oracle. */
  def kmeansRunHier(embeddings: DataFrame, nList: Int = 16,
                    centroidBase: Int = 100, iters: Int = 3,
                    nGroups: Int = 0, trainSamplePct: Int = 100): DataFrame = {
    val vecs = quantized(embeddings)
    kmeansReport(
      lloydFinalHier(trainSlice(vecs, trainSamplePct, centroidBase, nList),
        nList, centroidBase, iters, nGroups))
  }

  /** The per-(cluster, dim) report tail shared by the flat and hier
    * trainers: member counts + exact component sums + the IEEE mean. */
  private def kmeansReport(finalAgg: DataFrame): DataFrame =
    finalAgg
      .select(col("cluster_id"), col("n_members"),
        posexplode(col("sums")).as(Seq("dim", "sum_x")))
      .select(col("cluster_id"), col("dim").cast("int").as("dim"),
        col("n_members"), col("sum_x"),
        expr("round(sum_x / n_members, 6)").as("mean_x"))
      .orderBy("cluster_id", "dim")

  /** Cluster-balanced sampling — diversity-aware corpus selection: assign
    * every vector to its quantizer cluster (same narrow constant-folded
    * pass as [[ivfTopK]]/[[kmeansStep]]) and take an exact per-cluster
    * quota by md5(vec_id) rank (deterministic, RNG-free, layout-independent
    * — the [[Sampling.stratifiedSample]] discipline with clusters as
    * strata). The standard defense against topic-skewed corpora: a
    * dominant cluster can't crowd out the tail.
    *
    * Scale shape: narrow assignment (corpus never shuffled as vectors) +
    * one stratum-key shuffle + a per-cluster top-k window (heap under
    * AQE). */
  def clusterSample(embeddings: DataFrame, perCluster: Int = 20,
                    nList: Int = 16, centroidBase: Int = 100): DataFrame = {
    val vecs = quantized(embeddings)
    val qz = foldQuantizer(vecs, nList, centroidBase)
    val assigned = vecs.withColumn("scores", expr(centroidScoresExpr(qz.cq, qz.cn, nList)))
      .withColumn("cluster_id",
        expr(s"element_at(${qz.cid}, CAST(array_position(scores, array_max(scores)) AS INT))"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(expr("md5(CAST(vec_id AS STRING))"), col("vec_id"))
    assigned
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= perCluster)
      .select(col("cluster_id"), col("rank").cast("int").as("rank"), col("vec_id"))
      .orderBy("cluster_id", "rank")
  }

  /** Folded PQ codebook: cb[m+1][k+1] = codeword k's sub-vector for
    * subspace m (1-based SQL indexing), from the [centroidBase,
    * centroidBase+nCode) corpus rows' sub-vectors. */
  private final case class PqCodebook(cb: String, nSub: Int, nCode: Int, sd: Int)

  private def foldPqCodebook(vecs: DataFrame, nSub: Int, nCode: Int,
                             centroidBase: Int, dim: Int = 64): PqCodebook = {
    require(dim % nSub == 0, s"$dim dims must split evenly into $nSub subspaces")
    val sd = dim / nSub
    val cents = vecs
      .filter(col("vec_id") >= centroidBase && col("vec_id") < centroidBase + nCode)
      .orderBy("vec_id").collect()
      .map(_.getSeq[Long](1).toArray)
    require(cents.length == nCode, s"expected $nCode codebook rows, found ${cents.length}")
    val cb = (0 until nSub).map { m =>
      cents.map(v => v.slice(m * sd, (m + 1) * sd)
        .mkString("array(", "L,", "L)")).mkString("array(", ", ", ")")
    }.mkString("array(", ", ", ")")
    PqCodebook(cb, nSub, nCode, sd)
  }

  /** nSub×nCode exact L2² distances of the row's sub-vectors to every
    * codeword — the shared kernel of [[pqTopK]] (both sides) and
    * [[ivfPqTopK]]: corpus rows argmin it into codes, query rows carry it
    * whole as the ADC lookup table. */
  private def pqDistsExpr(pq: PqCodebook): String =
    s"""transform(sequence(0, ${pq.nSub - 1}), m ->
       |  transform(sequence(1, ${pq.nCode}), kk ->
       |    aggregate(sequence(1, ${pq.sd}), 0L, (acc, d) ->
       |      acc + (element_at(q, m * ${pq.sd} + d) - element_at(element_at(element_at(${pq.cb}, m + 1), kk), d))
       |          * (element_at(q, m * ${pq.sd} + d) - element_at(element_at(element_at(${pq.cb}, m + 1), kk), d)))))""".stripMargin

  /** PRODUCT-QUANTIZATION ANN — the compressed-domain scale path that
    * complements [[ivfTopK]] (IVF prunes WHICH vectors to score; PQ makes
    * each score a few table lookups instead of a 64-dim dot): the 64-dim
    * space splits into 8 subspaces of 8 dims; each subspace gets a
    * 16-codeword codebook (the [centroidBase, centroidBase+16) corpus
    * rows' sub-vectors — the same deterministic seed discipline as IVF,
    * replayable by the oracle where a trained codebook would converge
    * engine-specifically); every corpus vector encodes to 8 one-byte
    * codes (8 bytes per vector — a 10⁹-vector index fits in 8 GB, the
    * whole point of PQ at 100 TB); a query precomputes per-subspace
    * distance TABLES (8×16 exact BIGINT L2²) and scores any vector by 8
    * array lookups + adds (asymmetric distance, ADC). Ranking is BY the
    * ADC distance — all-integer output, bit-exact against the oracle;
    * exact rerank of the survivors is [[ivfTopK]]/[[bruteForceTopK]]'s
    * job downstream.
    *
    * Scale shape: the codebook folds to literals (128 sub-codewords);
    * encoding is one narrow pass (codes never shuffle the vectors); the
    * 10-query table set broadcasts against ONE corpus scan; only
    * (query × corpus) scalar adds precede the per-query top-k window.
    * Ties break to the lower code / lower vec_id everywhere (first-min
    * array_position ≡ the oracle's (d2 ASC, k ASC) rank). */
  def pqTopK(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
             nSub: Int = 8, nCode: Int = 16, centroidBase: Int = 100): DataFrame = {
    val vecs = quantized(embeddings)
    val pq = foldPqCodebook(vecs, nSub, nCode, centroidBase)
    // corpus side: 8 codes per vector via the native compiled argmin loop
    // (argmin = first-min, ties -> low k — bit-identical to the HOF twin)
    val encoded = vecs
      .select(col("vec_id"), expr(s"pq_codes(q, ${pq.cb}, ${pq.sd})").as("codes"))
    // query side: the nQueries rows carry the full distance tables (HOF —
    // table-sized work on a handful of rows)
    val queries = vecs.filter(col("vec_id") < nQueries)
      .withColumn("dists", expr(pqDistsExpr(pq)))
      .select(col("vec_id").as("query_id"), col("dists").as("dtab"))
    val rk = Window.partitionBy("query_id").orderBy(col("adist").asc, col("vec_id").asc)
    encoded.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adist", expr(
        s"""aggregate(sequence(1, $nSub), 0L, (acc, m) ->
           |  acc + element_at(element_at(dtab, m), element_at(codes, m)))""".stripMargin))
      .withColumn("rank", row_number().over(rk))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("vec_id").as("neighbor_id"), col("adist"))
      .orderBy("query_id", "rank")
  }

  /** IVF+PQ — the two scale paths COMPOSED, the shape a 10⁹-vector
    * production index actually runs: IVF prunes WHICH vectors to score
    * (nProbe/nList of the corpus per query), PQ makes each surviving
    * score 8 lookups+adds instead of a 64-dim dot. One narrow corpus
    * pass computes BOTH the list assignment and the 8 codes; the probe
    * ring (with each query's ADC tables) broadcasts; candidates rank by
    * exact-BIGINT ADC distance. Oracle = the two proven oracles chained
    * (ivf's assignment/probe CTEs feeding pq's code/table CTEs). */
  def ivfPqTopK(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
                nList: Int = 16, nProbe: Int = 4, nSub: Int = 8,
                nCode: Int = 16, centroidBase: Int = 100): DataFrame = {
    val vecs = quantized(embeddings)
    val qz = foldQuantizer(vecs, nList, centroidBase)
    val pq = foldPqCodebook(vecs, nSub, nCode, centroidBase)
    val base = vecs.withColumn("scores", expr(centroidScoresExpr(qz.cq, qz.cn, nList)))
    // one narrow pass: list assignment + native-loop PQ codes, vectors
    // dropped after; only the probe rows build full ADC tables
    val assigned = base
      .withColumn("list_id",
        expr(s"element_at(${qz.cid}, CAST(array_position(scores, array_max(scores)) AS INT))"))
      .select(col("vec_id"), col("list_id"),
        expr(s"pq_codes(q, ${pq.cb}, ${pq.sd})").as("codes"))
    val probes = base.filter(col("vec_id") < nQueries)
      .withColumn("dists", expr(pqDistsExpr(pq)))
      .withColumn("list_id", explode(expr(
        s"""transform(slice(array_sort(transform(sequence(0, ${nList - 1}),
           |  i -> struct(0e0 - element_at(scores, i + 1) AS s, i AS i))), 1, $nProbe),
           |  p -> element_at(${qz.cid}, p.i + 1))""".stripMargin)))
      .select(col("vec_id").as("query_id"), col("dists").as("dtab"), col("list_id"))
    val rk = Window.partitionBy("query_id").orderBy(col("adist").asc, col("vec_id").asc)
    assigned.join(broadcast(probes), "list_id")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adist", expr(
        s"""aggregate(sequence(1, $nSub), 0L, (acc, m) ->
           |  acc + element_at(element_at(dtab, m), element_at(codes, m)))""".stripMargin))
      .withColumn("rank", row_number().over(rk))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("vec_id").as("neighbor_id"), col("adist"), col("list_id"))
      .orderBy("query_id", "rank")
  }

  /** Per-subspace Lloyd-TRAINED PQ codebook — the training step the seeded
    * [[pqTopK]] codebook stands in for: each subspace m gets `iters`
    * k-means rounds over the corpus's sub-vectors, seeded from the same
    * deterministic [centroidBase, centroidBase+nCode) rows. One corpus
    * pass per round: every row's nSub codes come from the folded codebook
    * literals (narrow), the (m, code) partial agg folds each task's
    * members into one sd-long `vec_sum_agg` buffer, and the ≤ nSub·nCode
    * aggregate rows fold into the next round's literals. Codeword update
    * is the TRUNCATING integer mean (sum/n toward zero — Scala `/` here,
    * a CASE'd `//` in the oracle) so every round stays exact-integer;
    * empty codewords drop out (both engines' GROUP BY). Early stop on
    * exact fixpoint only — indistinguishable from the oracle's fixed
    * iteration count. Returns per-subspace codeword lists ordered by
    * seed id (positions are the code values; argmin ties break to the
    * first position ≡ the oracle's (d2 ASC, k ASC) rank). */
  private[graft] def pqLloyd(vecs: DataFrame, nSub: Int, nCode: Int, centroidBase: Int,
                      iters: Int, dim: Int = 64): Array[Array[Array[Long]]] = {
    require(iters >= 1 && dim % nSub == 0)
    val sd = dim / nSub
    val seeds = vecs
      .filter(col("vec_id") >= centroidBase && col("vec_id") < centroidBase + nCode)
      .orderBy("vec_id").collect()
      .map(_.getSeq[Long](1).toArray)
    require(seeds.length == nCode, s"expected $nCode codebook rows, found ${seeds.length}")
    var books: Array[Array[Array[Long]]] =
      Array.tabulate(nSub)(m => seeds.map(_.slice(m * sd, (m + 1) * sd)))

    // one Lloyd round: per-row positional codes against the folded
    // codebook (narrow), then the (m, code) partial agg — the collect is
    // bounded by nSub·nCode rows
    def step(bs: Array[Array[Array[Long]]]): Map[(Int, Int), (Long, Array[Long])] = {
      vecs
        // native encode: one compiled argmin loop per row (the HOF
        // distance-list formulation ran nSub·nCode·sd interpreted lambda
        // calls per row per round — the whole training wall at any scale)
        .withColumn("codes", expr(s"pq_codes(q, ${trainedCbLit(bs)}, $sd)"))
        .select(col("vec_id"), col("q"), posexplode(col("codes")).as(Seq("m", "code")))
        .withColumn("subvec", expr(s"slice(q, m * $sd + 1, $sd)"))
        .groupBy("m", "code")
        .agg(count(lit(1)).as("n"), expr("vec_sum_agg(subvec)").as("sums"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) ->
          (r.getLong(2), r.getSeq[Long](3).toArray))
        .toMap
    }

    var it = 1
    var done = false
    while (!done) {
      val agg = step(books)
      val next = Array.tabulate(nSub) { m =>
        books(m).indices
          .flatMap { p =>
            agg.get((m, p + 1)).map { case (n, sums) => sums.map(_ / n) }
          }.toArray
      }
      val fixpoint = next.indices.forall(m =>
        next(m).length == books(m).length &&
          next(m).zip(books(m)).forall { case (a, b) => java.util.Arrays.equals(a, b) })
      books = next
      if (fixpoint || it >= iters) done = true else it += 1
    }
    books
  }

  /** The trained codebook as a nested SQL array literal (constant-folded
    * by Catalyst into one Literal) — shared by [[trainedPqDistsExpr]]
    * (query-side ADC tables) and the native `pq_codes` encode. */
  private def trainedCbLit(bs: Array[Array[Array[Long]]]): String =
    bs.map(_.map(_.mkString("array(", "L,", "L)")).mkString("array(", ", ", ")"))
      .mkString("array(", ", ", ")")

  /** nSub per-subspace exact L2² distance lists against a TRAINED
    * (variable-width — empty codewords drop) codebook literal; positions
    * are the code values, argmin ties break to the first position. Query
    * rows only — corpus rows encode through the native `pq_codes` loop
    * (bit-identical codes, spec-asserted). */
  private def trainedPqDistsExpr(bs: Array[Array[Array[Long]]], sd: Int): String = {
    val cb = trainedCbLit(bs)
    s"""transform(sequence(0, ${bs.length - 1}), m ->
       |  transform(element_at($cb, m + 1), cw ->
       |    aggregate(sequence(1, $sd), 0L, (acc, d) ->
       |      acc + (element_at(q, m * $sd + d) - element_at(cw, d))
       |          * (element_at(q, m * $sd + d) - element_at(cw, d)))))""".stripMargin
  }

  /** IVF+PQ with BOTH stages TRAINED — [[ivfTrainedTopK]]'s Lloyd coarse
    * quantizer composed with [[pqLloyd]]'s per-subspace codebooks: the
    * full train-then-search pipeline a production index runs (train on a
    * corpus sample, assign + encode the corpus in one narrow pass, probe
    * with ADC tables). Same plan shape as [[ivfPqTopK]] — training only
    * changes the folded literals, never the query-path topology. Oracle =
    * the kmeans CTEs and the per-subspace PQ-Lloyd CTEs chained into the
    * proven ivf+pq assignment/probe/ADC CTEs. */
  def ivfPqTrainedTopK(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
                       nList: Int = 16, nProbe: Int = 4, nSub: Int = 8,
                       nCode: Int = 16, centroidBase: Int = 100,
                       iters: Int = 3): DataFrame = {
    val vecs = quantized(embeddings)
    val cents = lloydFinal(vecs, nList, centroidBase, iters)
      .orderBy("cluster_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](2).toArray))
    require(cents.length >= nProbe,
      s"only ${cents.length} surviving clusters < nProbe=$nProbe")
    val qz = centroidLits(cents)
    val n = cents.length
    val books = pqLloyd(vecs, nSub, nCode, centroidBase, iters)
    val sd = 64 / nSub
    val base = vecs.withColumn("scores", expr(centroidScoresExpr(qz.cq, qz.cn, n)))
    // corpus rows never build the nSub×nCode ADC distance lists — the
    // native pq_codes loop assigns the 8 codes directly; only the
    // nQueries probe rows pay the full-table HOF below
    val assigned = base
      .withColumn("list_id",
        expr(s"element_at(${qz.cid}, CAST(array_position(scores, array_max(scores)) AS INT))"))
      .select(col("vec_id"), col("list_id"),
        expr(s"pq_codes(q, ${trainedCbLit(books)}, $sd)").as("codes"))
    val probes = base.filter(col("vec_id") < nQueries)
      .withColumn("dists", expr(trainedPqDistsExpr(books, sd)))
      .withColumn("list_id", explode(expr(
        s"""transform(slice(array_sort(transform(sequence(0, ${n - 1}),
           |  i -> struct(0e0 - element_at(scores, i + 1) AS s, i AS i))), 1, $nProbe),
           |  p -> element_at(${qz.cid}, p.i + 1))""".stripMargin)))
      .select(col("vec_id").as("query_id"), col("dists").as("dtab"), col("list_id"))
    val rk = Window.partitionBy("query_id").orderBy(col("adist").asc, col("vec_id").asc)
    assigned.join(broadcast(probes), "list_id")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adist", expr(
        s"""aggregate(sequence(1, $nSub), 0L, (acc, m) ->
           |  acc + element_at(element_at(dtab, m), element_at(codes, m)))""".stripMargin))
      .withColumn("rank", row_number().over(rk))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("vec_id").as("neighbor_id"), col("adist"), col("list_id"))
      .orderBy("query_id", "rank")
  }

  /** SCALAR-QUANTIZATION ANN (SQ8) — the third classic compression path
    * beside [[pqTopK]] (PQ) and [[ivfTopK]] (IVF): each of the 64
    * dimensions is independently affine-mapped to an 8-bit code
    * `(x − min_d) · 255 div span_d` using the corpus-wide per-dimension
    * [min, max] range, so a vector stores in 64 bytes with NO codebook —
    * the cheapest index to build and the standard first rung of the
    * memory/recall ladder (SQ8 → PQ → IVF+PQ). Scoring is asymmetric
    * (ADC): the query keeps its exact quantized values (scaled ×255 to
    * stay integral) and each corpus code dequantizes to the integral
    * `min_d·255 + code·span_d`, so the dot product is an exact BIGINT —
    * bit-identical to the oracle, fully deterministic ranking (ties →
    * lower vec_id).
    *
    * Scale shape: the per-dimension range is ONE `vec_min_agg`/
    * `vec_max_agg` partial-agg pass (each task folds to a single
    * 64-long buffer — the corpus never posexplodes ×64); the folded
    * [min, span] literals make encoding a narrow per-row pass; the
    * 10-query set broadcasts against ONE corpus scan; only
    * (query × corpus) scalar adds precede the per-query top-k window.
    * Production packs codes to bytes — here they stay array<bigint>
    * for expression-level arithmetic, same information content. */
  def sqTopK(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val vecs = quantized(embeddings)
    val Array(mn, mx) = vecs
      .agg(expr("vec_min_agg(q)").as("mn"), expr("vec_max_agg(q)").as("mx"))
      .collect()(0) match {
        case r => Array(r.getSeq[Long](0).toArray, r.getSeq[Long](1).toArray)
      }
    val span = mn.indices.map(i => math.max(1L, mx(i) - mn(i))).toArray
    val dim = mn.length
    val mnL = mn.mkString("array(", "L,", "L)")
    val spanL = span.mkString("array(", "L,", "L)")
    // narrow encode: 8-bit code per dimension (floor div of non-negatives)
    val encoded = vecs.select(col("vec_id"), expr(
      s"""transform(sequence(1, $dim), d ->
         |  ((element_at(q, d) - element_at($mnL, d)) * 255L)
         |    div element_at($spanL, d))""".stripMargin).as("codes"))
    // query side keeps exact values, ×255 so both sides share the scale
    val queries = vecs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        expr("transform(q, x -> x * 255L)").as("vq"))
    val rk = Window.partitionBy("query_id").orderBy(col("adist").desc, col("vec_id").asc)
    encoded.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adist", expr(
        s"""aggregate(sequence(1, $dim), 0L, (acc, d) ->
           |  acc + element_at(vq, d) * (element_at($mnL, d) * 255L
           |      + element_at(codes, d) * element_at($spanL, d)))""".stripMargin))
      .withColumn("rank", row_number().over(rk))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("vec_id").as("neighbor_id"), col("adist"))
      .orderBy("query_id", "rank")
  }

  /** HYBRID retrieval — the RAG-stack staple composed from both corpora:
    * text RECALL (candidate docs sharing ≥ `minShared` distinct RARE
    * 3-gram shingles with the query doc — rare = document frequency ≤
    * `maxDocFreq`, the [[Dedup.ngramJaccard]] cap discipline that keeps
    * the inverted-index self-join linear; shingles, not unigrams, because
    * phrase overlap is the retrieval signal a 31-word-vocabulary unigram
    * can't carry) then vector PRECISION (candidates reranked by exact
    * quantized cosine between the docs' embeddings, top-`k`). Candidates
    * without an embedding drop (inner join) — both engines agree on the
    * partial-coverage case.
    *
    * Scale shape: the shingle index carries 8-byte 60-bit hashes (never
    * the phrase strings) and the self-join is DF-capped (never a
    * hot-phrase quadratic bucket) with the query side's pushed doc_id
    * filter; the candidate set is bounded by shared-rare-shingle density,
    * so the embedding rerank joins a SMALL relation against the vectors
    * (co-partitioned equi-joins on the ids); top-k per query is a window
    * over candidates only. No corpus-scale pair enumeration anywhere. */
  def hybridSearch(docs: DataFrame, embeddings: DataFrame, nQueries: Int = 10,
                   k: Int = 5, maxDocFreq: Int = 20, minShared: Int = 2): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val w = Window.partitionBy("g")
    val idx = Dedup.spread(docs)
      .select(col("doc_id"), explode(expr("shingle_hash60(text, 3)")).as("g"))
      .withColumn("df", count(lit(1)).over(w))
      .filter(col("df") <= maxDocFreq)
      .select("doc_id", "g")
    val qIdx = idx.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("query_id"), col("g"))
    val cands = qIdx.join(idx, "g")
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_shared_terms"))
      .filter(col("n_shared_terms") >= minShared)
    val vecs = quantized(embeddings)
    val qv = vecs.toDF("query_id", "qq", "nq")
    val cv = vecs.toDF("doc_id", "qv", "nv")
    val rk = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("doc_id").asc)
    cands.join(qv, "query_id").join(cv, "doc_id")
      .withColumn("cosine",
        expr("vec_dotl(qq, qv) / (sqrt(CAST(nq AS DOUBLE)) * sqrt(CAST(nv AS DOUBLE)))"))
      .withColumn("rank", row_number().over(rk))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"), col("doc_id"),
        col("n_shared_terms"), expr("round(cosine, 6)").as("cosine"))
      .orderBy("query_id", "rank")
  }

  /** Reciprocal-rank fusion (RRF, Cormack et al. 2009) over the two
    * retrievers [[hybridSearch]] cascades — the OTHER standard hybrid:
    * instead of text-recall-then-vector-rerank (which can only return
    * docs the text stage found), each retriever contributes its own
    * top-`nCand` list and every candidate scores
    * Σ 1/(rrfK + rank) over the lists that found it. A doc highly ranked
    * by EITHER signal surfaces; score scales never need calibrating
    * (ranks, not raw scores, fuse) — why RRF is the RAG default.
    *
    * Deterministic: both input ranks are the family's integer
    * (signal DESC, doc_id ASC) row_numbers; 1e0/(rrfK + rank) is one IEEE
    * division each, their sum is a fixed-shape two-term add the oracle
    * mirrors literally; fusion ties (mirrored rank pairs sum bit-equal)
    * break to the lower doc_id.
    *
    * Scale shape: the text list is the proven DF-capped inverted-index
    * self-join; the vector list is the broadcast-queries × one-corpus-scan
    * kernel (swap in the IVF/LSH candidate stage for large query sets);
    * the fusion joins two nQueries·nCand-row relations — never anything
    * corpus-sized — and ranks over ≤ 2·nCand rows per query. */
  def hybridRrf(docs: DataFrame, embeddings: DataFrame, nQueries: Int = 10,
                k: Int = 5, nCand: Int = 20, rrfK: Int = 60,
                maxDocFreq: Int = 20, minShared: Int = 2): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val w = Window.partitionBy("g")
    val idx = Dedup.spread(docs)
      .select(col("doc_id"), explode(expr("shingle_hash60(text, 3)")).as("g"))
      .withColumn("df", count(lit(1)).over(w))
      .filter(col("df") <= maxDocFreq)
      .select("doc_id", "g")
    val qIdx = idx.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("query_id"), col("g"))
    val tw = Window.partitionBy("query_id")
      .orderBy(col("n_shared_terms").desc, col("doc_id").asc)
    val textList = qIdx.join(idx, "g")
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_shared_terms"))
      .filter(col("n_shared_terms") >= minShared)
      .withColumn("r_text", row_number().over(tw))
      .filter(col("r_text") <= nCand)
      .select("query_id", "doc_id", "r_text")
    val vecList = rankSlice(cosineScored(quantized(embeddings), nQueries), 0, nCand)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("r_vec"))
    val rk = Window.partitionBy("query_id").orderBy(col("rrf").desc, col("doc_id").asc)
    textList.join(vecList, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf", expr(
        s"coalesce(1e0 / ($rrfK + r_text), 0e0) + coalesce(1e0 / ($rrfK + r_vec), 0e0)"))
      .withColumn("rank", row_number().over(rk))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"), col("doc_id"),
        col("r_text"), col("r_vec"), expr("round(rrf, 6)").as("rrf_score"))
      .orderBy("query_id", "rank")
  }

  /** Embedding OUTLIER report — the data-quality triage of an embedding
    * corpus: the bottom-`k` vectors by nearest-centroid cosine (vectors
    * far from EVERY cluster center — encoder failures, corrupted inputs,
    * genuinely out-of-distribution docs). The fixed-size bottom-k beats a
    * threshold here: it is non-empty and comparable at every corpus size,
    * and the analyst reads a ranked worklist, not a guess at a cut.
    *
    * Scale shape: the same narrow folded-centroid assignment kernel as
    * [[ivfTopK]] (no joins on the corpus side), then a TakeOrdered-style
    * bottom-k over (best_cosine asc, vec_id asc) — never a global sort.
    * Tie to the argmax centroid is first-max = min cent_id, matching the
    * oracle's (ccos DESC, cent_id ASC) rank. */
  def outliers(embeddings: DataFrame, k: Int = 20,
               nList: Int = 16, centroidBase: Int = 100): DataFrame = {
    val vecs = quantized(embeddings)
    val qz = foldQuantizer(vecs, nList, centroidBase)
    val scored = vecs.withColumn("scores", expr(centroidScoresExpr(qz.cq, qz.cn, nList)))
      .withColumn("best", expr("array_max(scores)"))
      .withColumn("nearest_list",
        expr(s"element_at(${qz.cid}, CAST(array_position(scores, best) AS INT))"))
      .select(col("vec_id"), col("nearest_list"), col("best"))
    val bottom = scored.orderBy(col("best").asc, col("vec_id").asc).limit(k)
      .withColumn("__one", graft.ops.Scale.constKey(col("vec_id")))
    val rw = Window.partitionBy("__one").orderBy(col("best").asc, col("vec_id").asc)
    bottom.withColumn("rank", row_number().over(rw))
      .select(col("rank").cast("int").as("rank"), col("vec_id"),
        col("nearest_list"), expr("round(best, 6)").as("best_cosine"))
      .orderBy("rank")
  }

  /** Sign-random-projection (SimHash-for-vectors) bucketed ANN — the scale
    * path. One narrow codegen'd pass computes each vector's `planes`-bit
    * bucket (sign of the exact integer dot with each LCG-derived
    * hyperplane — see [[graft.functions.MinHashOps.srpBucket]]); the tiny
    * query set is exploded into its multi-probe bucket ring (exact bucket
    * plus all Hamming-1 neighbors — the standard recall recovery for SRP)
    * and broadcast, so the corpus is scanned ONCE, never shuffled, and
    * only bucket-ring candidates are scored and reranked by exact cosine.
    * With planes ≈ log2(n/32), candidates per query ≈ 32·(planes+1):
    * sub-linear in n. No corpus shuffle, no cross join, one broadcast. */
  def lshTopK(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
              bucketTarget: Int = 32, planesOverride: Int = 0): DataFrame = {
    // planesOverride > 0 skips the corpus count: the count() is a
    // metadata-only parquet job, but at many-file scale even footer
    // listing is a job worth avoiding when the caller knows n
    val planes =
      if (planesOverride > 0) planesOverride
      else planesFor(embeddings.count(), bucketTarget)
    val vecs = quantized(embeddings)
      .withColumn("bucket", expr(s"srp_bucket(q, $planes)"))
    // multi-probe ring: the query's own bucket + every single-bit flip.
    // Probe values are distinct, so a corpus vector (one bucket) matches at
    // most one probe — no duplicate candidates to dedupe.
    val queries = vecs.filter(col("vec_id") < nQueries)
      .toDF("query_id", "qq", "nq", "qbucket")
      .select(col("query_id"), col("qq"), col("nq"),
        explode(expr(
          s"concat(array(qbucket), transform(sequence(0, ${planes - 1}), p -> qbucket ^ shiftleft(CAST(1 AS BIGINT), p)))"))
          .as("bucket"))
    val rk = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id").asc)
    vecs.toDF("vec_id", "qv", "nv", "bucket")
      .join(broadcast(queries), "bucket")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("dot", expr("vec_dotl(qq, qv)"))
      .withColumn("cosine", expr("dot / (sqrt(CAST(nq AS DOUBLE)) * sqrt(CAST(nv AS DOUBLE)))"))
      .withColumn("rank", row_number().over(rk))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        expr("round(cosine, 6)").as("cosine"), col("bucket"))
      .orderBy("query_id", "rank")
  }

  /** CORPUS-WIDE k-NN GRAPH — every vector's top-k cosine neighbors from
    * its SRP bucket ring (own bucket + every 1-bit flip), the
    * all-vectors materialization of [[lshTopK]] (spec: restricted to the
    * query slice it equals lshTopK row-for-row). The k-NN graph is the
    * curation primitive downstream of embeddings — semantic-dup cluster
    * seeds, diversity sampling, graph-based outlier detection all read
    * it — and at corpus scale it CANNOT be a broadcast (the "query" set
    * IS the corpus), which is the structural difference from lshTopK:
    *
    * Scale shape: the probe ring explodes each vector to planes+1 bucket
    * keys and the join is a plain shuffled equi-join on the 8-byte
    * bucket — corpus×corpus work bounded by ring×bucket occupancy
    * (≈ (planes+1)·bucketTarget candidates per vector, constant across
    * corpus sizes because planes grows with log n), never an all-pairs
    * product (plan-locked: no cartesian). Candidate scoring is the
    * native integer dot; per-vector top-k is a rank window over
    * candidates only. Ties break (cosine DESC, neighbor ASC) — the
    * oracle replays bucket ring and ranking exactly. */
  def knnGraph(embeddings: DataFrame, k: Int = 3, bucketTarget: Int = 32,
               planesOverride: Int = 0,
               maxBucket: Option[Int] = None): DataFrame = {
    val planes =
      if (planesOverride > 0) planesOverride
      else planesFor(embeddings.count(), bucketTarget)
    val vecs = quantized(embeddings)
      .withColumn("bucket", expr(s"srp_bucket(q, $planes)"))
    // Bucket-occupancy cap — the [[graft.ext.Dedup.minhashLsh]]
    // maxBandBucket discipline applied to the kNN join: per-bucket pair
    // work is Θ(m²), and on CLUSTERED corpora (the realistic case) a tight
    // semantic cluster lands thousands of vectors in one bucket no matter
    // how deep the hash — the sf10 soak fixture's 10-cluster structure ran
    // the exact join 118× longer at 10× data. Buckets above the cap are
    // dropped from candidate generation (filtering the corpus side alone
    // filters the JOIN — probes into a dropped bucket match nothing);
    // members still find neighbors through their under-cap ring probes.
    // A mega-bucket means the hash did not separate a dense clump — those
    // vectors' neighborhoods belong to the cluster path (kmeansRun /
    // dedup_embedding family), not an exhaustive within-bucket scan.
    // Default None = exact (the oracle twin's semantics).
    val corpus0 = vecs.toDF("b", "qb", "nb", "bucket")
    val corpus = maxBucket.fold(corpus0) { cap =>
      val w = Window.partitionBy("bucket")
      corpus0.withColumn("__bc", count(lit(1)).over(w))
        .filter(col("__bc") <= cap).drop("__bc")
    }
    val probes = vecs.toDF("a", "qa", "na", "abucket")
      .select(col("a"), col("qa"), col("na"), explode(expr(
        s"concat(array(abucket), transform(sequence(0, ${planes - 1}), p -> abucket ^ shiftleft(CAST(1 AS BIGINT), p)))"))
        .as("bucket"))
    val rk = Window.partitionBy("a").orderBy(col("cosine").desc, col("b").asc)
    corpus
      .join(probes, "bucket")
      .filter(col("a") =!= col("b"))
      .withColumn("cosine",
        expr("vec_dotl(qa, qb) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))"))
      // project the vectors away BEFORE the rank window: the window
      // shuffles whole rows, and candidates × two 64-long vectors is a
      // ~70 GB exchange at 200k vectors where (a, b, cosine) is ~2 GB
      .select("a", "b", "cosine")
      .withColumn("rank", row_number().over(rk))
      .filter(col("rank") <= k)
      .select(col("a").as("vec_id"), col("rank").cast("int").as("rank"),
        col("b").as("neighbor_id"), expr("round(cosine, 6)").as("cosine"))
      .orderBy("vec_id", "rank")
  }

  /** RECALL COST of the kNN bucket cap, corpus-wide — the
    * [[recallEval]] discipline applied to [[knnGraph]]'s density guard:
    * before running the capped graph over 100 TB, measure what the cap
    * costs against the exact ring on a sample. One summary row:
    * vectors with exact-ring neighbors, exact/recovered pair counts,
    * micro-averaged recall (Σhit/Σexact — ONE IEEE division over exact
    * BIGINT sums), and how many vectors keep their full top-k.
    *
    * Scale shape: two runs of the proven knnGraph plan (exact + capped —
    * the price of an eval) joined on (vec_id, neighbor): pair-sized
    * relations only, one partial agg to a single row. */
  def knnCapRecall(embeddings: DataFrame, k: Int = 3,
                   maxBucket: Int = 64): DataFrame = {
    val exact = knnGraph(embeddings, k).select("vec_id", "neighbor_id")
    val capped = knnGraph(embeddings, k, maxBucket = Some(maxBucket))
      .select(col("vec_id"), col("neighbor_id")).withColumn("hit", lit(1))
    exact.join(capped, Seq("vec_id", "neighbor_id"), "left")
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .agg(count(lit(1)).as("n_vectors"),
        sum("n_exact").cast("long").as("n_pairs_exact"),
        sum("n_hit").cast("long").as("n_pairs_hit"),
        sum(when(col("n_hit") === col("n_exact"), 1L).otherwise(0L)).as("n_full_recall"))
      .withColumn("recall", expr("round(n_pairs_hit / n_pairs_exact, 6)"))
  }

  /** RECALL@k EVAL of the approximate indexes against the exact baseline —
    * the measurement a corpus team runs before trusting an index at scale
    * ("measure, don't guess"): per method, how many of the true top-k
    * neighbors the index's top-k recovers, over the query set.
    *
    * hits = |exact-top-k ∩ approx-top-k| per (query, neighbor) pair,
    * summed over queries; recall = hits / |exact-top-k|. Both sides use
    * the same exact-integer cosine and (cosine DESC, vec_id ASC) order,
    * so the comparison is bit-deterministic and the oracle replays all
    * three algorithms verbatim.
    *
    * Scale shape: three independent corpus scans (exact, IVF, SRP-LSH) —
    * the price of an eval, each the already-proven per-method shape; the
    * set intersections are left-semi joins of nQueries·k-row results
    * (trivially broadcast), never anything corpus-sized. */
  def recallEval(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame = {
    // r15 NOTE: materializing `exact` was tried and REJECTED by in-run A/B
    // (2.0 s vs 1.6 s at sf0.1): the brute-force side scores only nQueries
    // rows against the corpus in one fused scan, so three lazy re-runs are
    // cheaper than the checkpoint barrier they would remove.
    val exact = bruteForceTopK(embeddings, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val methods = Seq(
      "ivf" -> ivfTopK(embeddings, nQueries, k),
      "lsh" -> lshTopK(embeddings, nQueries, k))
    val expected = exact.agg(count(lit(1)).as("n_expected"))
    methods.map { case (name, approx) =>
        exact.join(approx.select(col("query_id"), col("neighbor_id")),
            Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as("hits"))
          .select(lit(name).as("method"), col("hits"))
      }
      .reduce(_ unionAll _)
      .crossJoin(broadcast(expected))
      .withColumn("recall", expr("round(hits / n_expected, 6)"))
      .orderBy("method")
  }

  /** EMBEDDING-GEOMETRY health check — the collapse/anisotropy detector
    * run before trusting an embedding column at scale: the cosine
    * distribution over a DETERMINISTIC sample of pairs (each vector
    * paired with the one `stride` ids ahead, mod corpus size — a fixed
    * stride is as unstructured as RNG for this read but reproducible
    * across runs/engines), bucketed to width-0.1 cosine bands with
    * counts and shares. Healthy high-dim embeddings put nearly all mass
    * near 0; mass piling toward +1 means representation collapse, and a
    * shifted mode means anisotropy — both invisible to top-k evals.
    *
    * Scale shape: one narrow quantize pass, ONE co-partitioned self-join
    * on the 8-byte partner id (the corpus is never scored all-pairs — the
    * sample is exactly n pairs), a bucket partial agg, and a 1-row total
    * broadcast. Quantized-integer dots → IEEE cosine, identical literal
    * shape in the oracle, so even bucket-boundary cosines land the same
    * side in both engines. */
  def geometry(embeddings: DataFrame, stride: Long = 997L): DataFrame = {
    require(stride >= 1)
    val q = quantized(embeddings)
    val cnt = embeddings.agg(count(lit(1)).cast("long").as("n"))
    val pairs = q.select(col("vec_id").as("a"), col("q").as("qa"), col("nrm").as("na"))
      .crossJoin(broadcast(cnt))
      .withColumn("b", expr(s"(a + ${stride}L) % n"))
      .filter(col("b") =!= col("a"))
    val hist = pairs
      .join(q.select(col("vec_id").as("b"), col("q").as("qb"), col("nrm").as("nb")), "b")
      .withColumn("cosine",
        expr("vec_dotl(qa, qb) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))"))
      .withColumn("bucket", expr("CAST(least(floor(cosine * 10e0), 9) AS INT)"))
      .groupBy("bucket").agg(count(lit(1)).as("n_pairs"))
    val tot = hist.agg(sum("n_pairs").cast("long").as("total_pairs"))
    hist.crossJoin(broadcast(tot))
      .withColumn("share", expr("round(n_pairs / total_pairs, 6)"))
      .select(col("bucket"), expr("round(bucket / 10e0, 1)").as("bucket_lo"),
        col("n_pairs"), col("total_pairs"), col("share"))
      .orderBy("bucket")
  }

  /** The coarse-quantizer ASSIGNMENT as a public relation — (vec_id,
    * cluster_id) from the same deterministic [centroidBase,
    * centroidBase + nList) quantizer and argmax-cosine/lower-id-tie kernel
    * every IVF/k-means path shares. This is the reusable half of
    * clustering that downstream compositions want (topic cards,
    * cluster-balanced mixing) without re-deriving the per-dim k-means
    * report: one narrow constant-folded pass over the corpus, zero
    * shuffles. */
  def assignClusters(embeddings: DataFrame, nList: Int = 16,
                     centroidBase: Int = 100): DataFrame = {
    val vecs = quantized(embeddings)
    val qz = foldQuantizer(vecs, nList, centroidBase)
    vecs.withColumn("scores", expr(centroidScoresExpr(qz.cq, qz.cn, nList)))
      .withColumn("cluster_id", expr(
        s"element_at(${qz.cid}, CAST(array_position(scores, array_max(scores)) AS INT))"))
      .select("vec_id", "cluster_id")
  }

  /** [[assignClusters]] against the TRAINED quantizer — [[lloydFinal]]'s
    * converged member-sum centroids replace the seeded corpus rows (the
    * [[ivfTrainedTopK]] pattern), so the assignment labels REAL cluster
    * structure instead of the seed geometry. Labels stay the surviving
    * seed ids; the assignment pass itself is unchanged — one narrow
    * constant-folded argmax scan, zero shuffles beyond training's own
    * `iters` bounded rounds. Cosine against the unnormalized sum
    * direction ≡ cosine against the mean (scale invariance), so every
    * dot/norm stays an exact BIGINT the oracle replays. */
  def assignClustersTrained(embeddings: DataFrame, nList: Int = 16,
                            centroidBase: Int = 100, iters: Int = 3): DataFrame = {
    val vecs = quantized(embeddings)
    val cents = lloydFinal(vecs, nList, centroidBase, iters)
      .orderBy("cluster_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](2).toArray))
    val qz = centroidLits(cents)
    vecs.withColumn("scores", expr(centroidScoresExpr(qz.cq, qz.cn, cents.length)))
      .withColumn("cluster_id", expr(
        s"element_at(${qz.cid}, CAST(array_position(scores, array_max(scores)) AS INT))"))
      .select("vec_id", "cluster_id")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    * deduplication made tractable by CLUSTER SCOPING: instead of the
    * global pair space ([[Dedup.embeddingCosine]]'s exact relation, or its
    * metric-pruned production twin), vectors are compared only WITHIN
    * their k-means cluster, accepting (by design — the paper's trade) that
    * a duplicate pair straddling a cluster boundary is missed. With
    * nList ≈ √n the per-cluster pair space is ~n total instead of n², and
    * the work is embarrassingly cluster-parallel.
    *
    * Semantics, deterministic end to end:
    *  - assignment = the family's argmax-cosine / lower-id quantizer
    *    kernel (seeded [centroidBase, centroidBase+nList) quantizer —
    *    [[assignClustersTrained]]'s folded trained centroids slot into
    *    the same expression unchanged);
    *  - duplicate groups = connected components ([[Dedup.clusters]]' min-
    *    label closure) over the intra-cluster pairs with exact-integer
    *    cosine ≥ `eps`;
    *  - the KEPT representative per group follows the paper's rule — the
    *    member with the LOWEST cosine to its cluster centroid (keep the
    *    least-redundant exemplar), ties → lower vec_id. `cent_cos` is one
    *    IEEE division of exact BIGINTs, so the argmin replays bit-for-bit
    *    in the oracle.
    *
    * Output: one row per DUP-GROUP MEMBER (singletons aren't decisions —
    * the relation stays bounded by duplicate density, the
    * [[Dedup.embeddingKeepers]] convention): (cluster_id, group_id,
    * vec_id, cent_cos, keep).
    *
    * Scale shape: one narrow folded-quantizer assignment pass; ONE
    * exchange of the corpus keyed by cluster_id (the clustering shuffle —
    * co-locating a cluster's vectors is inherent to cluster-scoped
    * scoring); intra-cluster pair scoring runs join-local per cluster and
    * only (a, b) id pairs survive the eps filter into the closure
    * ([[Dedup.clusters]], which collapses them map-side per partition). A
    * pathological mega-cluster (quantizer collapse) is Θ(size²) — the
    * [[geometry]] histogram is the pre-flight read that catches that
    * corpus before this op runs, and `maxClusterSize` is the run-time
    * guard: clusters above the cap are DROPPED from pair scoring (the
    * band-bucket-cap discipline — an over-cap cluster is retrain-with-
    * more-lists business, not exhaustive-pair business; deterministic,
    * replayed by a HAVING count ≤ cap in the oracle, and a cap ≥ the
    * largest cluster is the identity — spec). Default None = every
    * cluster scored, the oracle-exact shape. */
  def semDedup(embeddings: DataFrame, eps: Double = 0.4, nList: Int = 16,
               centroidBase: Int = 100,
               maxClusterSize: Option[Int] = None): DataFrame = {
    val vecs = quantized(embeddings)
    semDedupCore(vecs, foldQuantizer(vecs, nList, centroidBase), nList, eps,
      maxClusterSize)
  }

  /** [[semDedup]] over TRAINED cluster structure — the paper's actual
    * recipe (SemDeDup clusters with k-means, not a seed quantizer):
    * [[lloydFinal]]'s converged member-sum centroids replace the seeded
    * rows (the [[assignClustersTrained]] pattern), everything downstream
    * identical by construction (one core). Oracle = the kmeans round CTEs
    * chained into the semdedup CTEs — two proven oracles composed. */
  def semDedupTrained(embeddings: DataFrame, eps: Double = 0.4, nList: Int = 16,
                      centroidBase: Int = 100, iters: Int = 3,
                      maxClusterSize: Option[Int] = None): DataFrame = {
    val vecs = quantized(embeddings)
    val cents = lloydFinal(vecs, nList, centroidBase, iters)
      .orderBy("cluster_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](2).toArray))
    semDedupCore(vecs, centroidLits(cents), cents.length, eps, maxClusterSize)
  }

  /** The cluster-scoped dedup core shared by the seeded and trained
    * variants: assignment against the folded quantizer, intra-cluster
    * pair scoring, closure, keeper rule. */
  private def semDedupCore(vecs: DataFrame, qz: Quantizer, nList: Int,
                           eps: Double,
                           maxClusterSize: Option[Int]): DataFrame = {
    val assigned = vecs
      .withColumn("scores", expr(centroidScoresExpr(qz.cq, qz.cn, nList)))
      .withColumn("cluster_id", expr(
        s"element_at(${qz.cid}, CAST(array_position(scores, array_max(scores)) AS INT))"))
      .withColumn("cent_cos", expr("array_max(scores)"))
      .select("vec_id", "q", "nrm", "cluster_id", "cent_cos")
    val scorable = maxClusterSize match {
      case None => assigned
      case Some(cap) =>
        // one bounded partial agg (≤ nList rows) decides which clusters
        // enter the quadratic stage; the broadcast semi-join adds no
        // corpus shuffle beyond the clustering exchange
        val ok = assigned.groupBy("cluster_id")
          .agg(count(lit(1)).as("n"))
          .filter(col("n") <= cap)
          .select("cluster_id")
        assigned.join(broadcast(ok), Seq("cluster_id"), "left_semi")
    }
    val lhs = scorable.select(col("cluster_id"), col("vec_id").as("a"),
      col("q").as("qa"), col("nrm").as("na"))
    val rhs = scorable.select(col("cluster_id"), col("vec_id").as("b"),
      col("q").as("qb"), col("nrm").as("nb"))
    val pairs = lhs.join(rhs, Seq("cluster_id"))
      .filter(col("a") < col("b"))
      .withColumn("dot", expr("vec_dotl(qa, qb)"))
      .filter(expr(
        s"dot / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) >= $eps"))
      .select("a", "b")
    val groups = Dedup.clusters(pairs)
      .select(col("doc_id").as("vec_id"), col("cluster_id").as("group_id"))
    val kw = Window.partitionBy("group_id")
      .orderBy(col("cent_cos").asc, col("vec_id").asc)
    groups
      .join(assigned.select("vec_id", "cluster_id", "cent_cos"), "vec_id")
      .withColumn("rn", row_number().over(kw))
      .select(col("cluster_id"), col("group_id"), col("vec_id"),
        expr("round(cent_cos, 6)").as("cent_cos"), (col("rn") === 1).as("keep"))
      .orderBy("group_id", "vec_id")
  }

  // ---- stored IVF index ---------------------------------------------------

  /** IVF index STORE — the incremental-dedup store family's ANN member
    * (7th stored index): materialize the inverted lists once, then every
    * query batch probes the store and every ingest batch appends to it,
    * both at O(increment) — the corpus embeddings are never re-scanned and
    * the quantizer is never re-fit on the daily path. Two relations:
    *
    *  - `centroids` (list_id, q): the frozen coarse quantizer — tiny by
    *    design (nList ≈ √n), collected and constant-folded at probe time;
    *    norms are recomputed from q on load, so the store carries no
    *    derivable state;
    *  - `lists` (list_id, vec_id, q, nrm): every corpus vector under its
    *    argmax-cosine list id, range-clustered on list_id via
    *    [[graft.ops.Scale.clusteredParquet]] so a query batch's probe set
    *    (≤ nQueries × nProbe list ids) file-prunes to the files covering
    *    those lists — at 10⁹ vectors a 4-of-32k-lists probe touches
    *    ~0.01% of store bytes.
    *
    * FROZEN-quantizer semantics, stated: appends assign against the
    * centroids the store was built with (that is what makes append
    * O(increment) and append ≡ rebuild — the assignment of an existing
    * vector can never change). Re-training the quantizer is a REBUILD by
    * contract, as in any inverted-file ANN system; drift between the
    * frozen centroids and an evolving corpus shows up in the recall evals
    * ([[knnCapRecall]]-style), not as silent wrong answers. */
  /** `nGroups` > 0 builds the lists through the HIERARCHICAL quantizer
    * ([[ivfHierTopK]]'s two-level assignment — the measured scale path
    * once nList passes ~1k, where the flat build pays O(nList·d) per
    * corpus vector); the grouping parameter is recorded in `hier.txt`
    * inside the snapshot so append and probe replay the SAME scheme (the
    * frozen-quantizer contract extends to the assignment function). */
  def buildIvfStore(embeddings: DataFrame, storeDir: String,
                    nList: Int = 16, centroidBase: Int = 100,
                    numFiles: Int = 8, nGroups: Int = 0): Unit = {
    val vecs = quantized(embeddings)
    val cents = vecs
      .filter(col("vec_id") >= centroidBase && col("vec_id") < centroidBase + nList)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    require(cents.length == nList, s"expected $nList centroids, found ${cents.length}")
    val spark = embeddings.sparkSession
    import spark.implicits._
    // side-directory + atomic-rename publish (the family's one discipline,
    // StoreLifecycle): a crash or concurrent rebuild mid-build can never
    // leave a half-written live store
    graft.ops.StoreLifecycle.publish(storeDir) { tmp =>
      cents.toSeq.map { case (id, v) => (id, v.toSeq) }
        .toDF("list_id", "q")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/centroids")
      if (nGroups > 0) {
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tmp))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$tmp/hier.txt"), s"nGroups=$nGroups\n")
        writeIvfHierLists(vecs, hierFromCents(cents, nGroups), tmp,
          mode = "overwrite", numFiles)
      } else
        writeIvfLists(vecs, centroidLits(cents), cents.length, tmp,
          mode = "overwrite", numFiles)
    }
  }

  /** [[buildIvfStore]] with a TRAINED quantizer — the full production
    * lifecycle composed: [[lloydFinalHier]] trains the coarse quantizer
    * (hier per-round assignment — the measured training scale path), the
    * converged member-sum centroids publish as the store's frozen
    * quantizer (labels = surviving seed ids), and the corpus assigns into
    * range-clustered lists through the SAME two-level scheme the probe
    * and every append replay (`hier.txt` records g — the
    * frozen-quantizer contract covers the assignment function). After the
    * one-time train+build, query batches pay O(batch + probed lists) via
    * [[ivfAgainstStore]] and daily appends pay O(increment) via
    * [[appendToIvfStore]] — training never reruns on the serving path.
    * The probe relation ≡ [[ivfTrainedHierTopK]] over the same corpus
    * (spec-asserted; the trained-hier oracle proves train, publish,
    * append, and probe in one hash). */
  def buildTrainedIvfStore(embeddings: DataFrame, storeDir: String,
                           nList: Int = 16, centroidBase: Int = 100,
                           iters: Int = 3, numFiles: Int = 8,
                           nGroups: Int = 0): Unit = {
    val vecs = quantized(embeddings)
    val g = if (nGroups > 0) nGroups
            else math.ceil(math.sqrt(nList.toDouble)).toInt
    val cents = lloydFinalHier(vecs, nList, centroidBase, iters, g)
      .orderBy("cluster_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](2).toArray))
    require(cents.length >= g,
      s"only ${cents.length} surviving clusters < nGroups=$g")
    val spark = embeddings.sparkSession
    import spark.implicits._
    graft.ops.StoreLifecycle.publish(storeDir) { tmp =>
      cents.toSeq.map { case (id, v) => (id, v.toSeq) }
        .toDF("list_id", "q")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/centroids")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tmp))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$tmp/hier.txt"), s"nGroups=$g\n")
      writeIvfHierLists(vecs, hierFromCents(cents, g), tmp,
        mode = "overwrite", numFiles)
    }
  }

  /** O(increment) append: assign ONLY the increment against the store's
    * frozen centroids (one narrow constant-folded pass) and land it as its
    * own range-clustered file set — existing store files are untouched, so
    * per-file list_id min/max stats stay tight per batch and probe
    * file-pruning keeps working. Append ≡ rebuild exactly (the frozen
    * quantizer makes assignment order-independent; spec-asserted as
    * identical lists relations). Compact with [[compactIvfStore]] when the
    * batch count grows into a small-file problem. */
  def appendToIvfStore(increment: DataFrame, storeDir: String,
                       numFiles: Int = 1): Unit =
    graft.ops.StoreLifecycle.withWriterLock(storeDir) {
    val vecs = quantized(increment)
    loadHierGroups(storeDir) match {
      case Some(g) =>
        writeIvfHierLists(vecs,
          hierFromCents(loadIvfCents(increment.sparkSession, storeDir), g),
          storeDir, mode = "append", numFiles)
      case None =>
        val (qz, n) = loadIvfQuantizer(increment.sparkSession, storeDir)
        writeIvfLists(vecs, qz, n, storeDir, mode = "append", numFiles)
    }
  }

  /** Store COMPACTION — [[graft.ext.Dedup.compactBandStore]]'s discipline:
    * rewrite the accumulated per-append file sets as one freshly
    * range-clustered layout (pure layout, row set untouched), publish via
    * side-directory + two atomic renames so a crash leaves a recoverable
    * `.old` beside the store, never a half-written live index. */
  def compactIvfStore(spark: org.apache.spark.sql.SparkSession,
                      storeDir: String, numFiles: Int = 8): Unit =
    graft.ops.StoreLifecycle.publish(storeDir) { tmp =>
      graft.ops.Scale.clusteredParquet(
        spark.read.parquet(s"$storeDir/lists"), s"$tmp/lists",
        Seq("list_id"), numFiles)
      spark.read.parquet(s"$storeDir/centroids")
        .coalesce(1).write.parquet(s"$tmp/centroids")
      val marker = java.nio.file.Paths.get(s"$storeDir/hier.txt")
      if (java.nio.file.Files.exists(marker)) // hier scheme survives compaction
        java.nio.file.Files.copy(marker, java.nio.file.Paths.get(s"$tmp/hier.txt"))
    }

  /** [[ivfTopK]] against a PRECOMPUTED store: the query batch pays its own
    * quantize + probe expression plus a file-pruned scan of the probed
    * lists — the corpus embeddings table is never read (plan-asserted:
    * the only embeddings scan is the query side's, and the lists scan
    * carries a pushed list_id IN filter). The probe set collect is bounded
    * by the QUERY batch (≤ nQueries × nProbe longs), never the corpus.
    * Same output relation as [[ivfTopK]] when the store covers the same
    * corpus with the same quantizer — one oracle proves both. */
  def ivfAgainstStore(queryEmbeddings: DataFrame, storeDir: String,
                      k: Int = 5, nProbe: Int = 4): DataFrame =
    ivfStoreProber(queryEmbeddings.sparkSession, storeDir, k, nProbe)(
      queryEmbeddings)

  /** [[ivfAgainstStore]] PRE-BOUND to its store: loads the frozen
    * quantizer once and pre-parses its folded-literal expressions into
    * Column trees, returning the function applied per query batch — the
    * ONE definition both the batch query and the streaming serving loop
    * ([[graft.streaming.VecStreams.runAnnServe]]) execute. The binding
    * matters for 24/7 serving: foreachBatch constructs a NEW plan every
    * trigger, and without it each trigger would re-collect the centroid
    * relation and re-PARSE the MB-scale centroid literals (the parse, not
    * the probe, dominated small batches when first measured — 3.2 s/batch
    * on 100-query batches at nList 448). Pre-parsed Columns are plain
    * expression trees, reusable across any number of batch DataFrames. */
  def ivfStoreProber(spark: org.apache.spark.sql.SparkSession,
                     storeDir: String, k: Int = 5, nProbe: Int = 4,
                     materializeProbes: Boolean = false): DataFrame => DataFrame = {
    // register at BIND time on the bound session: the serving loop's
    // micro-batch sessions clone the root registry at stream start, and
    // the lists relation below is read through the bound session
    graft.functions.GraftFunctions.register(spark)
    // hier-built stores replay the hier probe (argmax group, then nProbe
    // member lists) — same relation as ivfHierTopK, one oracle proves both
    val probeCols = storeProbeColsFn(spark, storeDir, nProbe)
    val listsPath = s"$storeDir/lists"
    val rk = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    queryEmbeddings => {
      val probesPlan = probeCols(quantized(queryEmbeddings))
        .select(col("vec_id").as("query_id"), col("q").as("qq"),
          col("nrm").as("nq"), col("list_id"))
      // serving loops materialize the tiny probe relation (≤ nQueries ×
      // nProbe rows) once per batch: the centroid-literal subtree then
      // plans and runs ONCE — both the id collect and the join read the
      // checkpointed leaf. Batch queries keep full lineage (plan-locked).
      val probes =
        if (materializeProbes) probesPlan.localCheckpoint() else probesPlan
      val probedIds = probes.select("list_id").distinct()
        .collect().map(_.getLong(0))
      val lists = spark.read.parquet(listsPath)
        .filter(col("list_id").isin(probedIds: _*))
      lists.join(broadcast(probes), "list_id")
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("cosine",
          expr("vec_dotl(qq, q) / (sqrt(CAST(nq AS DOUBLE)) * sqrt(CAST(nrm AS DOUBLE)))"))
        .withColumn("rank", row_number().over(rk))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
          expr("round(cosine, 6)").as("cosine"), col("list_id"))
        .orderBy("query_id", "rank")
    }
  }

  /** The store probe's LIST-SELECTION projection: the store's frozen
    * quantizer (flat or hier, per `hier.txt`) folds to literals at plan
    * time, each input row gains an exploded `list_id` per probed list.
    * Pure narrow projection — input columns pass through. Returned as a
    * pre-bound function: the centroid collect and the literal-expression
    * PARSE happen once at bind time, not per application (the
    * [[ivfStoreProber]] contract). */
  private[graft] def storeProbeColsFn(spark: org.apache.spark.sql.SparkSession,
                                      storeDir: String,
                                      nProbe: Int): DataFrame => DataFrame =
    loadHierGroups(storeDir) match {
      case Some(g) =>
        val hq = hierFromCents(loadIvfCents(spark, storeDir), g)
        val assignCols = hierAssignCols(hq)
        val probeList = explode(expr(hierProbeListsExpr(nProbe)))
        queryVecs =>
          assignCols.foldLeft(queryVecs) { case (df, (n, c)) => df.withColumn(n, c) }
            .withColumn("list_id", probeList)
            .drop("s1", "gidx", "cq", "cn", "cid", "s2")
      case None =>
        val (qz, n) = loadIvfQuantizer(spark, storeDir)
        require(n >= nProbe, s"only $n stored lists < nProbe=$nProbe")
        val scores = expr(centroidScoresExpr(qz.cq, qz.cn, n))
        val probeList = explode(expr(probeListsExpr(qz, n, nProbe)))
        queryVecs =>
          queryVecs.withColumn("scores", scores)
            .withColumn("list_id", probeList)
            .drop("scores")
    }

  /** The store-served cluster ASSIGNMENT as a public relation — (vec_id,
    * cluster_id) through the store's FROZEN quantizer, flat or hier,
    * whichever `hier.txt` records (the frozen-quantizer contract covers
    * the assignment function, so this is bit-identical to the assignment
    * the store's own lists hold). A pure narrow projection over folded
    * centroid literals: no join, no shuffle, no state — which is exactly
    * what makes it the streaming model-serving twin's shared definition
    * ([[graft.streaming.VecStreams.assignStream]] IS this function applied
    * to a streaming DataFrame; one definition, nothing to drift). */
  def assignAgainstIvfStore(embeddings: DataFrame, storeDir: String): DataFrame = {
    val spark = embeddings.sparkSession
    val vecs =
      if (embeddings.isStreaming) quantizeCols(embeddings)
      else quantized(embeddings)
    loadHierGroups(storeDir) match {
      case Some(g) =>
        hierAssigned(vecs, hierFromCents(loadIvfCents(spark, storeDir), g))
          .withColumn("cluster_id", expr(hierListIdExpr))
          .select("vec_id", "cluster_id")
      case None =>
        val (qz, n) = loadIvfQuantizer(spark, storeDir)
        vecs.withColumn("scores", expr(centroidScoresExpr(qz.cq, qz.cn, n)))
          .withColumn("cluster_id", expr(
            s"element_at(${qz.cid}, CAST(array_position(scores, array_max(scores)) AS INT))"))
          .select("vec_id", "cluster_id")
    }
  }

  /** Collect the store's frozen quantizer and fold it to literals —
    * centroid stores are tiny by design (nList ≈ √n), the same bounded
    * collect every IVF path already makes. */
  private def loadIvfQuantizer(spark: org.apache.spark.sql.SparkSession,
                               storeDir: String): (Quantizer, Int) = {
    val cents = loadIvfCents(spark, storeDir)
    (centroidLits(cents), cents.length)
  }

  private def loadIvfCents(spark: org.apache.spark.sql.SparkSession,
                           storeDir: String): Array[(Long, Array[Long])] = {
    val cents = spark.read.parquet(s"$storeDir/centroids")
      .orderBy("list_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    require(cents.nonEmpty, s"empty centroid store at $storeDir")
    cents
  }

  /** The store's recorded assignment scheme: Some(nGroups) for a
    * hier-built store, None for flat — append and probe MUST follow it
    * (the frozen-quantizer contract covers the assignment function). */
  private def loadHierGroups(storeDir: String): Option[Int] = {
    val marker = java.nio.file.Paths.get(s"$storeDir/hier.txt")
    if (!java.nio.file.Files.exists(marker)) None
    else Some(java.nio.file.Files.readString(marker).trim
      .stripPrefix("nGroups=").toInt)
  }

  private def writeIvfHierLists(vecs: DataFrame, hq: HierQuantizer,
                                storeDir: String, mode: String,
                                numFiles: Int): Unit =
    graft.ops.Scale.clusteredParquet(
      hierAssigned(vecs, hq)
        .withColumn("list_id", expr(hierListIdExpr))
        .select("list_id", "vec_id", "q", "nrm"),
      s"$storeDir/lists", Seq("list_id"), numFiles, mode)

  private def writeIvfLists(vecs: DataFrame, qz: Quantizer, n: Int,
                            storeDir: String, mode: String,
                            numFiles: Int): Unit =
    graft.ops.Scale.clusteredParquet(
      vecs.withColumn("scores", expr(centroidScoresExpr(qz.cq, qz.cn, n)))
        .withColumn("list_id", expr(
          s"element_at(${qz.cid}, CAST(array_position(scores, array_max(scores)) AS INT))"))
        .select("list_id", "vec_id", "q", "nrm"),
      s"$storeDir/lists", Seq("list_id"), numFiles, mode)
}
