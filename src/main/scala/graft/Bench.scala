package graft
import scala.util.control.NonFatal

object Bench {
  private final case class Result(name: String, min: Option[Double],
      err: Option[String], plan: Option[String], median: Option[Double],
      leakedRdds: Int)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = HarnessSession.local()
    // Warm-up: touch every table and exercise codegen/JIT once so timings
    // measure steady-state throughput, not first-query compilation.
    val warm = Tables(spark, sfDir)
    Seq(warm.region, warm.nation, warm.customer, warm.supplier, warm.part,
      warm.orders, warm.lineitem, warm.events, warm.documents, warm.embeddings)
      .foreach(df => df.limit(1).count())
    Seq("q_a3_conditional_agg", "q_txt3_fingerprint", "q_sim1_cosine_topk")
      .foreach { name =>
        SparkEntry.queries.get(name).foreach { fn =>
          try fn(spark, sfDir).limit(1).count() catch { case NonFatal(_) => () }
        }
      }
    // Deterministic (sorted) execution order so per-query timings are
    // comparable across rounds. Each query runs 3 times and reports the
    // minimum: the box is shared, and a contention spike during a single
    // pass must not be able to fail the round.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    // The widest-variance queries on the board (exact all-pairs ground
    // truth, BM25, PageRank) get extra passes so the artifact carries a
    // MEDIAN with real support: the cross-round perf gate is judged on
    // per-query medians (bench_results.json load_context), and a
    // 3-pass sample lets a single contention spike straddle the gate.
    val heavyPasses = math.max(passes, 5)
    val heavy = Set("q_dd15_allpairs", "q_dd16_incremental_allpairs",
      "q_dd17_minhash_calibration", "q_srch3_bm25", "q_gr1_pagerank")
    // A failed pass must NOT produce a timing (a query that throws
    // instantly would otherwise record a tiny min and read as a speedup);
    // only successful passes enter the min, and a query with zero
    // successful passes reports a null time plus its error.
    // Optional comma-separated allowlist for targeted perf work
    // (e.g. SPARK_GRAFT_BENCH_ONLY=q_sim3_ivf_ann,q_dd6_dup_clusters);
    // absent = full suite, which is what the driver runs.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // A typo'd allowlist must fail loud, not print a clean zero-query run.
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names unknown queries: ${unknown.mkString(", ")}")
    }
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // Plan fingerprint: md5 of the OPERATOR-TOKEN TREE — one
    // `depth:NodeName` line per physical operator — not the full plan
    // string. A changed fingerprint between rounds means the plan SHAPE
    // changed (join strategy, an extra Exchange, aggregate mode — the
    // things the plan audits pin), which turns an unexplained timing
    // delta into a diffable regression. The full string is NOT stable
    // run-to-run even after id-stripping: JVM lambda identities
    // (MapPartitions closures), AQE stage numbers, the materialization
    // state of shared cached relations, and Spark's hash-set-ordered
    // Expand keys (RewriteDistinctAggregates) all vary without the plan
    // meaningfully changing — round 7 measured 6/89 queries flapping.
    // Cached-relation INNER plans are excluded for the same reason: the
    // stored subtree reflects whether/how the cache materialized, not
    // what this query will do. Captured from queryExecution.sparkPlan —
    // the pre-AQE physical plan — because executedPlan's toString swaps
    // in QueryStage wrappers for any exchange a SHARED persisted input
    // already materialized, so its shape depends on execution history
    // even before this query runs.
    // Debug surface: SPARK_GRAFT_PLAN_DUMP_DIR=<dir> writes the token
    // tree per query, so an unstable fingerprint diffs to the exact
    // run-varying token (tools/fpdiff.py flags, this locates).
    // Gold gate, timed EXPLICITLY: the q_gold_* rows in the sweep read
    // the gate's memoized output (goldRunCache builds the silver store +
    // runs the production refresh chain ONCE per process), so their
    // per-query timings are cached-read costs (~0.1 s) — NOT the refresh
    // cost. Build the gate here, once, and report its wall time as its
    // own JSON field so nobody mistakes the cached rows for the job.
    val goldGateSec: Option[Double] =
      if (selected.exists(_._1 == "q_gold_refresh")) {
        val t0 = System.nanoTime()
        try {
          SparkEntry.queries("q_gold_refresh")(spark, sfDir).limit(1).count()
          Some((System.nanoTime() - t0) / 1e9)
        } catch {
          // NonFatal only: an OOM/VM error must crash the bench, not
          // publish gold_gate_build_sec:null beside sub-second cached
          // q_gold_* rows — the exact confusion this field prevents.
          case NonFatal(e) =>
            println(s"[bench] gold gate build failed: ${e.getMessage}")
            None
        }
      } else None
    val planDumpDir = sys.env.get("SPARK_GRAFT_PLAN_DUMP_DIR")
    def fingerprintOf(df: org.apache.spark.sql.DataFrame,
        name: String): Option[String] =
      try {
        val tok = "^([\\s:+|\\-]*)(?:\\*\\(\\d+\\)\\s*)?([A-Za-z][A-Za-z0-9_.$]*)".r
        val sb = new StringBuilder
        var skipDeeperThan = -1
        df.queryExecution.sparkPlan.toString.linesIterator.foreach { ln =>
          tok.findFirstMatchIn(ln).foreach { m =>
            val depth = m.group(1).length
            val op = m.group(2)
            if (skipDeeperThan >= 0 && depth > skipDeeperThan) ()
            else {
              skipDeeperThan = -1
              sb.append(depth).append(':').append(op).append('\n')
              if (op == "InMemoryRelation") skipDeeperThan = depth
            }
          }
        }
        val p = sb.toString
        planDumpDir.foreach { dir =>
          new java.io.File(dir).mkdirs()
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$dir/$name.plan.txt"), p)
        }
        Some(java.security.MessageDigest.getInstance("MD5")
          .digest(p.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12))
      } catch { case NonFatal(_) => None }
    // Releases what a query persisted through the engine's own handle
    // (SparkEntry.releaseTracked) and the catalog cache, then counts the
    // RDDs still persisted — leaked past both — and unpersists them too,
    // so they cannot skew the next query (perfbench's Board.release).
    def release(): Int = {
      SparkEntry.releaseTracked(); spark.catalog.clearCache()
      val left = spark.sparkContext.getPersistentRDDs.values.toSeq
      left.foreach(_.unpersist(blocking = true))
      left.size
    }
    // Cache blocks a query leaves — persisted intermediates from its
    // builder (dd3/dd8/mm5/…) — would otherwise accumulate across the
    // 100-query sweep (memory pressure, GC pauses inside timed work), so
    // each query is released after its passes. Deliberately NOT between
    // passes of the same query: the CacheManager's plan-matched reuse
    // across passes is part of the measured semantics every round has
    // used (min-of-3 reads pass 1 cold, passes 2-3 cache-warm), and
    // clearing per-pass inflates the whole board ~1.4× against prior
    // rounds' numbers. The warm-up and the gold gate are released
    // before the first query, uncounted.
    release(): Unit
    val results = selected.map { case (name, fn) =>
      var err: Option[String] = None
      var fp: Option[String] = None
      val nPasses = if (heavy.contains(name)) heavyPasses else passes
      val times = (1 to nPasses).flatMap { _ =>
        // Outside the timed region: let the ContextCleaner release
        // dropped RDDs before the next timed pass.
        System.gc()
        val t0 = System.nanoTime()
        try {
          val df = fn(spark, sfDir)
          // Fingerprint from the SAME DataFrame the timed pass runs:
          // re-invoking the builder afterwards would re-run the
          // driver-side fit/sample work of sim3/sim5/sim6/dd11 just to
          // stringify a plan. Planning is cached on queryExecution, so
          // count() below reuses it — no extra timed work beyond the md5.
          if (fp.isEmpty) fp = fingerprintOf(df, name)
          df.count()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case NonFatal(e) =>
          // strip quotes, backslashes and ALL control chars (\b, \f,
          // U+0000-001F would otherwise still produce invalid JSON)
          err = Some((e.getClass.getSimpleName + ": " +
            Option(e.getMessage).getOrElse("")).take(160)
            .replaceAll("[\"\\\\\\p{Cntrl}]", " "))
          None
        }
      }
      val med =
        if (times.isEmpty) None
        else {
          val s = times.sorted
          Some(if (s.size % 2 == 1) s(s.size / 2)
          else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0)
        }
      // Continuity min: over the FIRST `passes` successful samples only,
      // even for the heavy family — a min over 5 samples is
      // stochastically lower than every prior round's min-of-3, so the
      // extra heavy passes would read as spurious speedups in
      // round-over-round diffs of the `queries` board. The medians field
      // uses ALL samples (that's what the extra passes are for).
      Result(name, if (times.nonEmpty) Some(times.take(passes).min) else None,
        err, fp, med, release())
    }
    def jsonMap(value: Result => String): String =
      results.map(r => "\"" + r.name + "\":" + value(r)).mkString("{", ",", "}")
    val qs = jsonMap(_.min.fold("null")(_.toString))
    val errs = jsonMap(r =>
      if (r.min.isDefined) "null" else r.err.fold("null")("\"" + _ + "\""))
    val failed = results.count(_.min.isEmpty)
    val total = results.flatMap(_.min).sum
    val plans = jsonMap(_.plan.fold("null")("\"" + _ + "\""))
    // Medians ride next to the min-of-N board: the cross-round perf
    // gate compares per-query MEDIANS (the min stays for continuity
    // with every prior round's board). The heavy family gets
    // heavyPasses samples; the rest of the board medians its `passes`.
    val meds = jsonMap(_.median.fold("null")(_.toString))
    // RDDs still persisted after a query's release: each one escaped the
    // engine's persist-and-release handle (`Materialized`).
    val leaks = jsonMap(_.leakedRdds.toString)
    val leaked = results.map(_.leakedRdds).sum
    val goldGate = goldGateSec.fold("null")(_.toString)
    val line = s"""{"metric":"total","value":$total,"unit":"sec","failed":$failed,"gold_gate_build_sec":$goldGate,"cached_gate_queries":["q_gold_refresh","q_gold_pot_stats"],"heavy_passes":$heavyPasses,"heavy_queries":${heavy.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")},"queries":$qs,"medians":$meds,"leaked_rdds":$leaks,"errors":$errs,"plans":$plans,"sf":"$sfDir"}"""
    // Persist the full per-query JSON as an artifact, not stdout: the
    // driver retains only a truncated stdout tail, which makes
    // round-over-round timing diffs impossible for most queries. The file
    // survives in the repo checkout (committed per round) so every query
    // is diffable.
    //
    // READ-MERGE-WRITE: the artifact also carries curated context that
    // a run does not produce — `load_context` (the host-variance
    // narrative the cross-round gate is judged against) and
    // `idle_run_totals_sec` (the idle-box baseline totals). A plain
    // overwrite silently strips them (round 13 lost the driver board's
    // context this way); instead, any preserved key present in the
    // existing file and absent from this run's line is carried over.
    try {
      val outPath = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_results.json"))
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val fresh = om.readTree(line)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      if (java.nio.file.Files.exists(outPath)) {
        try {
          val prior = om.readTree(java.nio.file.Files.readString(outPath))
          Seq("load_context", "idle_run_totals_sec").foreach { k =>
            // Explicit type argument: ObjectNode.set's generic return
            // infers as Nothing in Scala, whose synthetic checkcast
            // throws AFTER the mutation — the first key would land and
            // the rest silently wouldn't.
            if (prior.has(k) && !fresh.has(k))
              fresh.set[com.fasterxml.jackson.databind.JsonNode](
                k, prior.get(k)): Unit
          }
        } catch { case NonFatal(_) => () /* unreadable prior: overwrite */ }
      }
      java.nio.file.Files.writeString(outPath, om.writeValueAsString(fresh))
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] artifact write failed: ${e.getMessage}")
    }
    // Driver contract: the full `line` is hundreds of KB (four 143-entry
    // maps) and the driver retains only a ~2 KB stdout TAIL, so it parsed
    // null while that line was printed. The 143 query NAMES alone are
    // 2.5 KB, so no per-query map can ever fit the tail; stdout carries
    // only this COMPACT summary (total/failed/leaks/gate/sf — what the
    // cross-round gate needs), and every per-query map lives in
    // bench_results.json.
    println(s"""{"metric":"total","value":$total,"unit":"sec","failed":$failed,"leaked_rdds":$leaked,"gold_gate_build_sec":$goldGate,"heavy_passes":$heavyPasses,"sf":"$sfDir"}""")
    spark.stop()
    // An RDD that outlived its query's release escaped the engine's
    // release handles: fail the run (per-query counts are in the artifact).
    if (leaked > 0) sys.exit(1)
  }
}
