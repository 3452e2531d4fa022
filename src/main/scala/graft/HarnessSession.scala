package graft

import org.apache.spark.sql.SparkSession

/** The one session builder: every main and the test suite (`SparkSpec`)
  * build through `local`, so the oracle run (Verify), the tier-1 tests,
  * the board (Bench, perfbench) and the served plane (QueryServer,
  * GoldRefresh) all run under IDENTICAL session semantics — a config
  * fix applied to one hand-rolled copy and not the others would silently
  * make what the tests check differ from what production runs.
  */
object HarnessSession {

  /** The core count every main runs at: `SPARK_GRAFT_CPUS`, or the
    * host's core count when the variable is not set. */
  def cpus(): String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** `maxFailures` is Spark's per-task attempt budget; `local[n, 1]`
    * behaves as `local[n]`. The test suite passes 2 so RetryReplaySpec can
    * inject first-attempt task failures (a deterministic bug still fails:
    * both attempts throw); every main keeps 1. */
  def local(cpus: String = HarnessSession.cpus(), logLevel: String = "WARN",
      maxFailures: Int = 1): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus, $maxFailures]")
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
      // clustered layouts rely on that for time-slice scans, and the
      // DuckDB oracle reads Verify's dumps as identical µs values
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // Local mode never speculates; pinned off so the one shared
      // builder says so. A speculative copy would be count-safe: merge
      // counts read the committed files, one attempt per task.
      .config("spark.speculation", "false")
      // Per-file open cost for scan-split packing. The 4 MB default
      // prices every parquet file as 4 MB of fake bytes when packing
      // files into tasks — measured on a 500k-block serve store whose
      // enriched table had sprawled to 16k small files: 64 GB of
      // padding → ~500 tasks per FK-filtered route read, cold p50
      // growing linearly with file count (measured at f33c8ee). 256 KB
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
      // Every production table is external (path-addressed); only tests
      // create managed tables. A per-process warehouse keeps them from
      // colliding with a leftover ./spark-warehouse, and keeps mains from
      // creating one in the working directory.
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
