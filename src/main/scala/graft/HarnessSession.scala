package graft

import org.apache.spark.sql.SparkSession

/** One shared builder for every measurement main (Bench, Stress,
  * ShuffleAudit, IngestBench): the artifacts these produce are compared
  * against each other (BENCH vs SHUFFLE.md vs STRESS.md vs
  * INGEST_BENCH.md), so they must run under IDENTICAL session semantics —
  * a config fix applied to one hand-rolled copy and not the others would
  * silently make the cross-artifact numbers incomparable.
  */
object HarnessSession {

  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // naive parquet timestamps (timestamp[us], no UTC flag) read as
      // TIMESTAMP (session-local, pinned UTC) — matching DuckDB and the
      // watermark/unix_micros surfaces, not TIMESTAMP_NTZ
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // write timestamps as physical INT64 micros, not legacy INT96:
      // parquet predicate pushdown / row-group min-max pruning only
      // exist for INT64-backed timestamps, and the silver store's
      // clustered layouts rely on that for time-slice scans (Verify
      // pins the same value for the oracle dumps)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // MergeWriter's row/bucket counts ride the WRITE job as observed
      // metrics (CollectMetrics accumulators). Accumulators drop FAILED
      // attempts' updates (countFailedValues=false) — retry-safe, and
      // RetryReplaySpec pins it — but a SPECULATIVE duplicate that also
      // SUCCEEDS can double-apply its updates. Local mode never
      // speculates; pin it false anyway so the session config documents
      // the cluster requirement in the one shared builder. A cluster
      // deployment that needs speculation must reconcile the counts
      // sidecar against a recount instead (readCountsSidecar's heal path
      // already does exactly that when the uids disagree).
      .config("spark.speculation", "false")
      // Per-file open cost for scan-split packing. The 4 MB default
      // prices every parquet file as 4 MB of fake bytes when packing
      // files into tasks — measured on a 500k-block serve store whose
      // enriched table had sprawled to 16k small files: 64 GB of
      // padding → ~500 tasks per FK-filtered route read, cold p50
      // growing linearly with file count (ColdScaleBench). 256 KB
      // reflects a local/SSD footer-read cost; at production file
      // sizes (≥128 MB parquet) the knob is moot either way. The
      // layout fix (GoldRefresh.clusterForPartitionedWrite) bounds the
      // file count itself; this stops residual small files from being
      // priced as 16× their bytes.
      .config("spark.sql.files.openCostInBytes", (256 * 1024).toString)
      // Two settings measured on a running 143-query board at local[32]:
      // a thread dump for the first, per-pass task counts for the second.
      // - The generated-class cache defaults to 100 entries; a 143-query
      //   board cycles thousands of codegen units through it, and a
      //   Janino recompile blocks EVERY task of the stage on one thread
      //   (observed: 31 of 32 executor threads parked behind one Janino
      //   parse). 10k entries ≈ a few hundred MB of class metadata at
      //   most, and recompiles disappear across passes and queries.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // - Cached-plan materialization ignores AQE unless this flag is on,
      //   so every persist() inside the iterative operators (PageRank,
      //   k-core, CC, BPE) shuffled at the full static partition count
      //   regardless of data size (gr1 measured 901 tasks/pass vs 430
      //   with the flag). AQE still sizes partitions by bytes, so
      //   cluster-scale plans keep full parallelism.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    require(!spark.sparkContext.getConf.getBoolean("spark.speculation",
      defaultValue = false),
      "speculative execution would double-count observed merge metrics")
    spark
  }

  /** p-th percentile (nearest-rank on the sorted sequence), shared by the
    * task-duration summaries in the measurement artifacts. */
  def pct(xs: Seq[Long], p: Double): Long =
    if (xs.isEmpty) 0L
    else xs.sorted.apply(math.min(xs.size - 1, (p * xs.size).toInt))
}
