package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph analytics over document-similarity graphs (SURVEY.md §2.8).
  *
  * The near-dup pair relations ([[Dedup.simhashPairs]],
  * [[Dedup.minhashLsh]], [[Dedup.embeddingCosine]]) are edge lists; these
  * operators compute graph-level structure a curation pipeline reads off
  * them — how CLUSTERED the duplication is (template farms and mirror
  * networks form dense triangles; incidental pairwise collisions don't).
  */
object Graph {

  /** TRIANGLE COUNT + local clustering coefficient per node over an
    * undirected edge list `(a, b)` with `a < b`, one row per edge.
    *
    * Algorithm: degree-ordered edge orientation (Ortmann/Brandes, the
    * standard distributed-triangle trick). Every edge is directed from its
    * lower endpoint to its higher endpoint under the total order
    * `(degree, id)`; a triangle {u,v,w} with ord(u)<ord(v)<ord(w) is then
    * found EXACTLY once, as the wedge u→v, u→w closed by the edge v→w.
    * Orienting by degree (not id) is what bounds the work: a node's wedge
    * count is its OUT-degree squared, and out-degrees under degree order
    * are O(√m) even when raw degrees are power-law — the hub that would
    * generate deg² wedges under id order generates almost none, because
    * nearly all its edges point INTO it.
    *
    * Scale shape: two co-partitioned equi-joins (wedge build on src, close
    * on (v,w)) — no cartesian, no broadcast of corpus-sized relations;
    * degree is one partial-agg shuffle of 8-byte ids; the per-node
    * aggregate explodes exactly 3 rows per found triangle (bounded by the
    * triangle count, not the pair space).
    *
    * Output: `(doc_id, degree, n_triangles, clustering)` for every node
    * with ≥1 edge, clustering = 2·t / (deg·(deg−1)) rounded to 6 (0 for
    * degree-1 nodes), ordered by doc_id. All-integer except the one
    * IEEE division — bit-exact vs the oracle.
    *
    * `maxOutDeg` (opt-in) is the 100×-scale guard: the simhash graph's
    * density grows superlinearly with corpus size on template-heavy data,
    * and even under degree orientation a wedge apex contributes
    * out-degree² work. With `Some(k)` each node's ORIENTED out-edge list
    * is truncated to its k (ddeg, dst)-smallest entries — a deterministic
    * per-node wedge budget of k², making total work O(n·k²) regardless of
    * density. EXACTNESS TRADEOFF (documented, spec'd): triangles whose
    * apex u has oriented out-degree > k and whose other two corners both
    * fall outside u's kept k are UNDERCOUNTED at u, v, and w alike; the
    * closure probe stays uncapped, so any k ≥ the graph's max oriented
    * out-degree reproduces the exact result bit-for-bit. Keeping the
    * (ddeg, dst)-smallest edges biases retained wedges toward low-degree
    * corners — the ones most likely to close (template-farm members),
    * so the cap sheds the least-likely wedges first. */
  def triangles(edges: DataFrame, maxOutDeg: Option[Int] = None): DataFrame = {
    // r15: MATERIALIZE edges, degrees and the oriented relation
    // (localCheckpoint). Two effects, both re-measured this round against
    // the unmaterialized form (which r10 had measured faster under its
    // then-plan): (1) the edge-generation subtree (for the registry
    // queries: the full simhash band pipeline) ran once per REFERENCE —
    // the unmaterialized physical plan carried 68 parquet scans / 84
    // exchanges and AQE stage reuse recovered only part of that; (2) a
    // checkpointed relation has a TRUE size, so the planner broadcasts
    // the small sides (deg, and dir under the close join) instead of
    // sort-merge-joining by estimate — scale-adaptive by construction
    // (too-big sides at 100× stay SMJ). Measured sf0.1 min-of-2:
    // 9.36 s → 6.49 s uncapped, 2.84 s → 1.69 s capped, fingerprints
    // bit-identical (OPTIMIZATION_r15.md, "Graph family").
    val e = edges.select(col("a"), col("b")).localCheckpoint()
    val deg = e.select(col("a").as("id")).unionAll(e.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
      .localCheckpoint()
    // orient every edge low→high under the (degree, id) total order; carry
    // the dst's order key for the wedge comparison below
    val dir = e
      .join(deg.select(col("id").as("a"), col("degree").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("degree").as("db")), "b")
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")), col("a"))
          .otherwise(col("b")).as("src"),
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")), col("b"))
          .otherwise(col("a")).as("dst"),
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")), col("db"))
          .otherwise(col("da")).as("ddeg"))
      .localCheckpoint()
    // wedge budget: enumerate wedges only from each apex's k smallest
    // oriented out-edges; the window shuffles on src — the same key the
    // wedge self-join hashes on, so the exchange is reused, not added
    val wedgeSrc = maxOutDeg match {
      case Some(k) =>
        require(k >= 1, s"maxOutDeg must be >= 1, got $k")
        dir.withColumn("rn", row_number().over(
            Window.partitionBy("src").orderBy(col("ddeg").asc, col("dst").asc)))
          .filter(col("rn") <= k).drop("rn")
      case None => dir
    }
    val wedges = wedgeSrc.select(col("src"), col("dst").as("v"), col("ddeg").as("dv"))
      .join(wedgeSrc.select(col("src"), col("dst").as("w"), col("ddeg").as("dw")), "src")
      .filter(struct(col("dv"), col("v")) < struct(col("dw"), col("w")))
    val tri = wedges.join(
      dir.select(col("dst").as("w"), col("src").as("v")), Seq("v", "w"))
      .select(col("src").as("u"), col("v"), col("w"))
    val triPerNode = tri
      .select(explode(array(col("u"), col("v"), col("w"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_triangles"))
    deg.join(triPerNode, Seq("id"), "left")
      .select(col("id").as("doc_id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("clustering", expr(
        "CASE WHEN degree >= 2 THEN round(2e0 * n_triangles / (degree * (degree - 1)), 6) ELSE 0e0 END"))
      .orderBy("doc_id")
  }

  /** Integer-quantized PAGERANK over an undirected edge list — the
    * centrality read of the near-dup graph: which documents sit at the
    * CENTER of a template farm / mirror network (high rank = the canonical
    * copy everything else collides with; the keeper a curation pass should
    * prefer, vs [[Dedup.keepers]]' min-id convention).
    *
    * Quantization (same discipline as the quantized-cosine family): ranks
    * live in millionths — pr₀ = 1e6, and each round is
    * `pr'(v) = 150000 + (85 · Σ_{u~v} (pr(u) div deg(u))) div 100`
    * (damping 0.85, teleport 0.15·1e6), ALL BIGINT — floor-division
    * PageRank, bit-identical in any engine and summation order, so the
    * DuckDB oracle (the same recurrence unrolled as CTEs) hash-matches.
    * Every node of the edge list has deg ≥ 1 and, undirected, ≥ 1 inbound
    * contribution — no dangling-mass term.
    *
    * Scale shape: per round, ONE co-partitioned equi-join of the directed
    * edge relation against the rank relation (both hash on the 8-byte id)
    * + one partial-agg shuffle on dst — Pregel's shape in pure DataFrame
    * ops, never a collect, never a cartesian; work is Θ(m) per round.
    * Deep iteration: every `checkpointEvery` rounds the rank relation is
    * localCheckpoint'd (eager, executor-local blocks — no lineage replay,
    * no HDFS round-trip), so the plan per round stays CONSTANT-depth
    * instead of growing linearly — at 10+ rounds an unchecked lineage
    * re-analyzes/re-optimizes an ever-deeper tree and eventually walls on
    * the optimizer, not the data. Values are bit-identical either way
    * (checkpointing materializes, never reorders the integer math). */
  def pagerank(edges: DataFrame, iterations: Int = 3,
               checkpointEvery: Int = 5): DataFrame = {
    require(iterations >= 1 && checkpointEvery >= 1)
    // r15: materialize the edge list and the degree relation once — each
    // iteration references both, and unmaterialized the pair-generation
    // subtree re-executed per reference (the physical plan carried 56
    // parquet scans for 3 iterations). Measured sf0.1 min-of-2: 3.79 s →
    // 1.69 s including the checkpoint cost, bit-identical (integer math is
    // materialization-invariant). True sizes also let the planner broadcast
    // the per-round rank relation instead of estimating.
    val e = edges.select(col("a"), col("b")).localCheckpoint()
    val und = e.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
    val deg = und.groupBy("src").agg(count(lit(1)).as("degree"))
      .localCheckpoint()
    var pr = deg.select(col("src").as("id"), col("degree"), lit(1000000L).as("pr"))
    for (i <- 1 to iterations) {
      val contrib = pr.select(col("id").as("src"), expr("pr div degree").as("c"))
      val inbound = und.join(contrib, "src").groupBy("dst").agg(sum("c").as("s"))
      pr = deg.select(col("src").as("id"), col("degree"))
        .join(inbound.select(col("dst").as("id"), col("s")), "id")
        .select(col("id"), col("degree"),
          expr("150000L + (85L * s) div 100L").as("pr"))
      if (i % checkpointEvery == 0 && i < iterations) pr = pr.localCheckpoint()
    }
    pr.select(col("id").as("doc_id"), col("degree"), col("pr").as("pagerank"))
      .orderBy("doc_id")
  }

  /** DEGREE HISTOGRAM of a near-dup edge list — the one-glance shape
    * report read next to [[triangles]]: how many nodes carry each edge
    * degree, with each bucket's share of all connected nodes. A thin
    * head + long tail means isolated pairwise collisions; mass at high
    * degrees means template farms / mirror networks (then [[triangles]]
    * says how tightly they interconnect).
    *
    * Scale shape: one (id) partial-agg shuffle of 8-byte ids → one
    * (degree) partial agg over the bounded node relation → a 1-row total
    * broadcast; output bounded by the max degree, never corpus size. */
  /** CONNECTED-COMPONENT SUMMARY of a near-dup edge list — the cluster
    * census read after [[degreeHist]]/[[triangles]]: one row per component
    * with node/edge counts and edge density 2m/(n(n−1)). Near-cliques
    * (density → 1) are template farms to collapse to one keeper; stringy
    * low-density chains are transitive-closure accidents worth a
    * threshold re-check before deduping through them.
    *
    * Labels come from [[Dedup.clusters]] — the shared two-level
    * union-find closure (per-partition spanning forests, finished in one
    * task or by distributed min-label rounds above its ceiling) — so there
    * is exactly ONE closure implementation in the engine; this operator adds
    * two bounded partial aggs (nodes by label, edges by their `a`-side
    * label — every edge is intra-component by closure, so one endpoint
    * suffices). The component id IS the member-minimum doc_id (the
    * [[Dedup.keepers]] convention), so downstream keeper joins need no
    * extra lookup.
    *
    * Determinism: counts exact; density is the one IEEE division, rounded
    * to 6 with the same literal shape in the oracle (every node has an
    * edge, so n_nodes ≥ 2 — no zero denominator). */
  def components(edges: DataFrame): DataFrame = {
    // r15: materialize the edge list ONCE — it feeds both the closure and
    // the per-component edge count below; unmaterialized, the nEdges join
    // re-executed the whole pair-generation pipeline a second time
    // (measured ~1.3 s of the query's 4.4 s at sf0.1).
    val e = edges.select(col("a"), col("b")).localCheckpoint()
    val labs = Dedup.clusters(e)
      .select(col("doc_id").as("id"), col("cluster_id").as("component_id"))
    val nEdges = e.join(labs.select(col("id").as("a"), col("component_id")), "a")
      .groupBy("component_id").agg(count(lit(1)).as("n_edges"))
    labs.groupBy("component_id")
      .agg(count(lit(1)).as("n_nodes"))
      .join(nEdges, "component_id")
      .withColumn("density", expr("round(2 * n_edges / (n_nodes * (n_nodes - 1)), 6)"))
      .select(col("component_id"), col("n_nodes"), col("n_edges"), col("density"))
      .orderBy("component_id")
  }

  def degreeHist(edges: DataFrame): DataFrame = {
    // r15: materialize the edge list once — the two union branches each
    // carried the full pair-generation subtree (two executions of the
    // simhash band pipeline for one histogram).
    val e = edges.select(col("a"), col("b")).localCheckpoint()
    val deg = e.select(col("a").as("id")).unionAll(e.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    val hist = deg.groupBy("degree").agg(count(lit(1)).as("n_nodes"))
    val tot = hist.agg(sum("n_nodes").cast("long").as("total_nodes"))
    hist.crossJoin(broadcast(tot))
      .withColumn("share", expr("round(n_nodes / total_nodes, 6)"))
      .select(col("degree"), col("n_nodes"), col("total_nodes"), col("share"))
      .orderBy("degree")
  }
}
