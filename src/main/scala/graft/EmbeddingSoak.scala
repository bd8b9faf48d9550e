package graft

/** Soak driver for the embedding-dedup family (kept tooling, not library
  * API): times the pruned vs exact cosine/keepers twins against the
  * [[SoakGen]]-produced fixtures at sf1/sf10. Modes:
  *   tight   — √n tight clusters (the binding regime for the metric prune)
  *   iso     — isotropic vectors (the no-bind fallback regime)
  *   default — the driver-shaped embeddings fixture
  * Usage: runMain graft.EmbeddingSoak <fixtureDir> [tight|iso|default] [exact] */
object EmbeddingSoak {
  def time[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[scratch] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/sf1")
    val mode = if (args.length > 1) args(1) else "tight"
    val spark = GraftSession()
    mode match {
      case "tight" =>
        val emb = spark.read.parquet(s"$dir/embeddings_tight.parquet")
        val n = emb.count()
        val c = math.ceil(math.sqrt(n.toDouble)).toInt
        println(s"[scratch] $dir tight vecs=$n nList=$c")
        val kept = graft.ext.Dedup.prunedListPairs(emb, 0.8, c, 0).count()
        println(s"[scratch] surviving tiles=$kept of ${c * (c + 1) / 2}")
        for (rep <- 1 to 2)
          time(s"pruned cosine rep$rep")(
            graft.ext.Dedup.embeddingCosinePruned(emb, 0.8, c, 0)
              .write.format("noop").mode("overwrite").save())
        for (rep <- 1 to 2)
          time(s"pruned keepers rep$rep")(
            graft.ext.Dedup.embeddingKeepersPruned(emb, 0.8, c, 0)
              .write.format("noop").mode("overwrite").save())
        if (args.length > 2 && args(2) == "exact") {
          for (rep <- 1 to 2)
            time(s"exact cosine rep$rep")(
              graft.ext.Dedup.embeddingCosine(emb, 0.8)
                .write.format("noop").mode("overwrite").save())
          for (rep <- 1 to 2)
            time(s"exact keepers rep$rep")(
              graft.ext.Dedup.embeddingKeepers(emb, 0.8)
                .write.format("noop").mode("overwrite").save())
        }
      case "iso" =>
        val emb = spark.read.parquet(s"$dir/embeddings_iso.parquet")
        println(s"[scratch] $dir iso vecs=${emb.count()}")
        for (rep <- 1 to 2)
          time(s"adaptive-pruned cosine rep$rep")(
            graft.ext.Dedup.embeddingCosinePruned(emb, 0.4, 16, 100)
              .write.format("noop").mode("overwrite").save())
        for (rep <- 1 to 2)
          time(s"exact cosine rep$rep")(
            graft.ext.Dedup.embeddingCosine(emb, 0.4)
              .write.format("noop").mode("overwrite").save())
      case "default" =>
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        println(s"[scratch] $dir default vecs=${emb.count()}")
        for (rep <- 1 to 2)
          time(s"adaptive-pruned keepers rep$rep")(
            graft.ext.Dedup.embeddingKeepersPruned(emb, 0.4, 16, 100)
              .write.format("noop").mode("overwrite").save())
        for (rep <- 1 to 2)
          time(s"exact keepers rep$rep")(
            graft.ext.Dedup.embeddingKeepers(emb, 0.4)
              .write.format("noop").mode("overwrite").save())
      case "semdedup" =>
        // SemDeDup vs the recall-1 pruned closure on the tight fixture —
        // SemDeDup's own designed regime (√n clusters, seeds [0, C) cover
        // every cluster): cluster scoping should pay ~intra-tile work only,
        // the same tiles the metric prune leaves after its bound binds
        val emb = spark.read.parquet(s"$dir/embeddings_tight.parquet")
        val n = emb.count()
        val c = math.ceil(math.sqrt(n.toDouble)).toInt
        println(s"[scratch] $dir semdedup vecs=$n nList=$c")
        for (rep <- 1 to 2)
          time(s"semdedup rep$rep")(
            graft.ext.Similarity.semDedup(emb, 0.8, c, 0)
              .write.format("noop").mode("overwrite").save())
        for (rep <- 1 to 2)
          time(s"pruned keepers rep$rep")(
            graft.ext.Dedup.embeddingKeepersPruned(emb, 0.8, c, 0)
              .write.format("noop").mode("overwrite").save())
        // the designed-win regime: isotropic geometry, where the metric
        // prune cannot bind (adaptive twin falls back to the blocked
        // all-pairs join — n²/2 work) while cluster scoping still cuts
        // pair volume to ~n²/nList; exact iso walls are in the r8
        // crossover receipts for comparison
        val iso = spark.read.parquet(s"$dir/embeddings_iso.parquet")
        val ni = iso.count()
        val ci = math.ceil(math.sqrt(ni.toDouble)).toInt
        println(s"[scratch] $dir semdedup ISO vecs=$ni nList=$ci")
        for (rep <- 1 to 2)
          time(s"semdedup iso rep$rep")(
            graft.ext.Similarity.semDedup(iso, 0.4, ci, 0)
              .write.format("noop").mode("overwrite").save())
      case other =>
        System.err.println(
          s"unknown mode '$other' — usage: EmbeddingSoak <fixtureDir> [tight|iso|default|semdedup] [exact]")
        sys.exit(2)
    }
    spark.stop()
  }
}
