package graft.operators

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Maintenance plane: small-file compaction preserves rows, layout
  * contracts, and the counts sidecar; vacuum removes only crash-stranded
  * swap artifacts past the grace period. */
class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def dataFiles(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
      .map(_.getName).toSeq

  test("flat compact: many fragments fold to the byte-sized file count, rows identical, rerun no-op") {
    val path = tmpDir("cflat") + "/t"
    val df = spark.range(0, 1000).select(col("id"),
      (col("id") % 7).as("v"))
    df.repartition(16).write.parquet(path)
    assert(dataFiles(path).size == 16)

    val r = Maintenance.compact(spark, path) // 1000 tiny rows ≪ 128 MB → 1 file
    assert(r.rewritten == 1 && r.filesBefore == 16 && r.filesAfter == 1)
    val out = spark.read.parquet(path)
    assert(out.count() == 1000)
    assert(out.agg(sum(col("id") * col("v"))).head().getLong(0) ==
      df.agg(sum(col("id") * col("v"))).head().getLong(0))

    val r2 = Maintenance.compact(spark, path) // already compact
    assert(r2.rewritten == 0 && r2.filesAfter == 1)
  }

  test("flat compact honors targetFileBytes: stays above one file when bytes demand it") {
    val path = tmpDir("ctgt") + "/t"
    spark.range(0, 20000).select(col("id"),
        concat(lit("x" * 50), col("id")).as("pad"))
      .repartition(12).write.parquet(path)
    val bytes = Option(new java.io.File(path).listFiles()).get
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")).map(_.length()).sum
    val target = bytes / 3 // force need ≈ 3-4 files
    val r = Maintenance.compact(spark, path, targetFileBytes = target)
    assert(r.rewritten == 1)
    assert(r.filesAfter >= 3 && r.filesAfter < 12,
      s"expected a 3-4 file layout, got ${r.filesAfter}")
    assert(spark.read.parquet(path).count() == 20000)
  }

  test("targetFiles pins the output count where the byte rule would skip the fold") {
    // A badly fragmented table's bytes are mostly per-file footer
    // overhead, so a small byte target can compute need ≥ the fragment
    // count and skip compaction entirely — the override exists for
    // exactly this shape (and for pinning a clustered range-file count).
    val path = tmpDir("ctfiles") + "/t"
    spark.range(0, 400).select(col("id"), (col("id") % 5).as("v"))
      .repartition(16).write.parquet(path)
    assert(dataFiles(path).size == 16)
    val bytes = Option(new java.io.File(path).listFiles()).get
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")).map(_.length()).sum
    // Byte rule with this target computes need ≥ 16 → would skip.
    val tinyTarget = bytes / 20
    val skipped = Maintenance.compact(spark, path, targetFileBytes = tinyTarget)
    assert(skipped.rewritten == 0 && skipped.filesAfter == 16)
    // The pinned count folds regardless, clustered on id.
    val r = Maintenance.compact(spark, path, targetFileBytes = tinyTarget,
      sortCol = Some("id"), targetFiles = Some(3))
    assert(r.rewritten == 1 && r.filesAfter == 3, r.toString)
    assert(spark.read.parquet(path).count() == 400)
    // Rerun at the same pin: already compact, no rewrite.
    val r2 = Maintenance.compact(spark, path, targetFiles = Some(3))
    assert(r2.rewritten == 0 && r2.filesAfter == 3)
  }

  test("partitioned compact rewrites only over-fragmented partitions; sidecar stays valid (no heal rescan)") {
    val path = tmpDir("cpart") + "/t"
    val b1 = (1 to 40).map(i => (s"k$i", f"2024-06-${i % 2 + 1}%02d", 1L, i))
      .toDF("key", "day", "seqno", "v")
    MergeWriter.mergePartitioned(spark, b1, path, Seq("key"), Seq("seqno"), "day")
    Maintenance.compact(spark, path) // normalize both partitions first
    val sidecarUid = Files.readAllBytes(Paths.get(s"$path.swapuid"))

    // Fragment ONE partition out-of-band (a bulk backfill written by
    // another engine): same rows, 8 files.
    val hot = s"$path/day=2024-06-01"
    val hotRows = spark.read.parquet(hot).persist()
    assert(hotRows.count() == 20)
    hotRows.repartition(8).write.mode("overwrite").parquet(hot)
    hotRows.unpersist()
    val coldFiles = dataFiles(s"$path/day=2024-06-02").toSet
    assert(dataFiles(hot).size == 8)

    val r = Maintenance.compact(spark, path)
    assert(r.examined == 2 && r.rewritten == 1, s"got $r")
    assert(dataFiles(hot).size == 1)
    // Cold partition untouched — same physical files.
    assert(dataFiles(s"$path/day=2024-06-02").toSet == coldFiles)
    assert(spark.read.parquet(path).count() == 40)
    // The swap rotated the marker and re-stamped the counts under it.
    val marker = TableSwap.markerUid(path)
    assert(!marker.getBytes("UTF-8").sameElements(sidecarUid))
    assert(MergeWriter.readCountsSidecar(path).map(_._2).contains(marker))

    // The counts sidecar survives compaction (rows moved, not changed):
    // the next merge must trust it — total correct without a heal rescan.
    val b2 = Seq(("k2", "2024-06-01", 2L, 999)).toDF("key", "day", "seqno", "v")
    val total = MergeWriter.mergePartitioned(spark, b2, path,
      Seq("key"), Seq("seqno"), "day")
    assert(total == 40)
  }

  test("bucketed layouts are never rewritten (flat and per-partition)") {
    val flat = tmpDir("cbflat") + "/t"
    val rows = (1 to 30).map(i => (s"k$i", f"2024-06-${i % 2 + 1}%02d", 1L, i))
      .toDF("key", "day", "seqno", "v")
    MergeWriter.mergeBucketed(spark, rows, flat, Seq("key"), Seq("seqno"),
      "key", 4)
    val before = dataFiles(flat).toSet
    val r = Maintenance.compact(spark, flat, targetFileBytes = 1L)
    assert(r.rewritten == 0 && r.skippedBucketed == 1)
    assert(dataFiles(flat).toSet == before)

    val part = tmpDir("cbpart") + "/t"
    MergeWriter.mergePartitioned(spark, rows, part, Seq("key"), Seq("seqno"),
      "day", bucket = Some(("key", 4)))
    val beforeP = dataFiles(s"$part/day=2024-06-01").toSet
    val rp = Maintenance.compact(spark, part, targetFileBytes = 1L)
    assert(rp.rewritten == 0 && rp.skippedBucketed == 2, s"got $rp")
    assert(dataFiles(s"$part/day=2024-06-01").toSet == beforeP)
  }

  /** Rows the scan MATERIALIZED to answer `df` (the scan node's
    * numOutputRows SQL metric, read after execution) — the direct
    * observation of parquet row-group pruning: a skipped row group never
    * surfaces a row here, while post-scan Filter rows do. AQE is
    * disabled for the measurement so the scan leaf is reachable without
    * descending into query stages. */
  private def scanRowsOf(mk: => org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.Row, Long) = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val d = mk
      // collect(), not head(): head wraps the frame in a NEW limit query
      // execution, so the plan inspected below would never have run.
      val row = d.collect()(0)
      (row, d.queryExecution.executedPlan.collectLeaves()
        .flatMap(_.metrics.get("numOutputRows").map(_.value)).sum)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("clustered compact (sortCol): a range predicate reads a fraction of the packed layout") {
    // Same fragmented input twice: one compacts by packing (coalesce),
    // one by clustering on ts (range-repartition + sort). Rows must be
    // identical; a narrow ts slice must then read far fewer bytes from
    // the clustered layout (disjoint parquet min/max stats skip the
    // non-matching files/row groups at the scan).
    val packed = tmpDir("cpack") + "/t"
    val clustered = tmpDir("cclus") + "/t"
    val rows = spark.range(0, 300000).select(col("id"),
      (pmod(hash(col("id")), lit(30)).cast("long") * 1000000L + col("id"))
        .as("ts"),
      concat(lit("x" * 40), col("id")).as("pad"))
    rows.repartition(16).write.parquet(packed)   // arrival-shuffled: every
    rows.repartition(16).write.parquet(clustered) // fragment spans all of ts
    val bytes = Option(new java.io.File(packed).listFiles()).get
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")).map(_.length()).sum
    val target = math.max(1L, bytes / 10) // ~10 output files either way

    val rp = Maintenance.compact(spark, packed, targetFileBytes = target)
    val rc = Maintenance.compact(spark, clustered, targetFileBytes = target,
      sortCol = Some("ts"))
    assert(rp.rewritten == 1 && rc.rewritten == 1)

    val checksum = (p: String) => spark.read.parquet(p)
      .agg(sum(col("id") * col("ts")), count(lit(1))).head()
    assert(checksum(clustered) == checksum(packed)) // clustering moved rows, lost none

    // One of the 30 ts buckets ≈ 3.3% of rows; the slice answer must be
    // layout-independent while the rows the scan materializes must not.
    def slice(p: String): (Long, Long) = {
      val (row, scanned) = scanRowsOf(spark.read.parquet(p)
        .filter(col("ts") >= 3000000L && col("ts") < 4000000L)
        .agg(sum(length(col("pad"))).as("s")))
      (row.getLong(0), scanned)
    }
    val (packedAns, packedScan) = slice(packed)
    val (clusAns, clusScan) = slice(clustered)
    assert(packedAns == clusAns && packedAns > 0)
    // Packed files all span the full ts range: no row group is skippable,
    // the scan materializes everything. Clustered files hold disjoint ts
    // ranges: the scan only surfaces the matching bucket's neighborhood.
    assert(packedScan == 300000L, s"packed scan materialized $packedScan")
    assert(clusScan * 3 < packedScan,
      s"clustered scan materialized $clusScan of $packedScan — skipping not engaged")
  }

  test("vacuum removes stranded swap artifacts past grace, spares fresh and live") {
    val dir = tmpDir("vac")
    val path = s"$dir/t"
    // Partitioned table so the partition-aside artifact below has a live
    // counterpart (completed swap → deletable).
    Seq(("k1", "2024-06-01", 1L)).toDF("key", "day", "seqno")
      .write.partitionBy("day").parquet(path)

    // Stranded artifacts of every species the swap protocol can leave.
    Files.createDirectories(Paths.get(s"$path.tmp-dead0001"))
    Files.createDirectories(Paths.get(s"$path.old-dead0002"))
    Files.createDirectories(Paths.get(s"$path.old-dead0003-day=2024-06-01"))
    Files.write(Paths.get(s"$path.counts.json.tmp"), "torn".getBytes)
    Files.write(Paths.get(s"$path.swapuid.tmp.dead0004"), "torn".getBytes)
    // A DIFFERENT table's tmp dir must not match t's patterns.
    Files.createDirectories(Paths.get(s"$dir/t2.tmp-alive01"))

    val now = System.currentTimeMillis()
    // Grace larger than the artifacts' age → in-flight-safe, nothing dies.
    assert(Maintenance.vacuum(path, graceMs = 3600 * 1000L, nowMs = now).isEmpty)
    // Grace 0 → all five of t's artifacts die; t itself and t2's live.
    val removed = Maintenance.vacuum(path, graceMs = 0L, nowMs = now)
    assert(removed.size == 5, s"removed $removed")
    assert(Files.exists(Paths.get(path)))
    assert(Files.exists(Paths.get(s"$dir/t2.tmp-alive01")))
    assert(!Files.exists(Paths.get(s"$path.tmp-dead0001")))
    assert(!Files.exists(Paths.get(s"$path.counts.json.tmp")))
    assert(!Files.exists(Paths.get(s"$path.swapuid.tmp.dead0004")))
    assert(spark.read.parquet(path).count() == 1)
  }

  test("vacuum quarantines (never deletes) artifacts of an incomplete swap") {
    // Case 1: live table missing — a whole-table swap died between its
    // two renames, so the aside holds the ONLY copy. Age must not kill it.
    locally {
      val dir = tmpDir("vacq1")
      val path = s"$dir/t"
      Seq(("k1", 1L)).toDF("key", "seqno").write
        .parquet(s"$path.old-dead0001") // the aside IS the data
      val r = Maintenance.vacuumInspect(path, graceMs = 0L)
      assert(r.deleted.isEmpty && r.quarantined == Seq(s"$path.old-dead0001"))
      assert(Files.exists(Paths.get(s"$path.old-dead0001")))
    }

    // Case 2: sidecar/marker uid disagreement — the partition-scoped
    // crash detector fired; asides AND tmps stay, torn small files go.
    locally {
      val dir = tmpDir("vacq2")
      val path = s"$dir/t"
      val b = Seq(("k1", "2024-06-01", 1L)).toDF("key", "day", "seqno")
      MergeWriter.mergePartitioned(spark, b, path, Seq("key"), Seq("seqno"), "day")
      // Simulate a crash inside the swap window: the sidecar was written
      // with the new uid, the marker still carries the old one.
      MergeWriter.io.writeStringAtomic(s"$path.swapuid", "stale999")
      Files.createDirectories(Paths.get(s"$path.old-dead0002-day=2024-06-01"))
      Files.createDirectories(Paths.get(s"$path.tmp-dead0003"))
      Files.write(Paths.get(s"$path.counts.json.tmp"), "torn".getBytes)
      val r = Maintenance.vacuumInspect(path, graceMs = 0L)
      assert(r.deleted == Seq(s"$path.counts.json.tmp"), r.toString)
      assert(r.quarantined.toSet == Set(s"$path.old-dead0002-day=2024-06-01",
        s"$path.tmp-dead0003"))
      assert(Files.exists(Paths.get(s"$path.old-dead0002-day=2024-06-01")))
    }

    // Case 3: a partition aside whose live partition dir is MISSING (a
    // compaction's per-partition swap has no sidecar, so only the
    // live-partition probe can see its crash) — quarantined; the same
    // species with a live counterpart deletes.
    locally {
      val dir = tmpDir("vacq3")
      val path = s"$dir/t"
      Seq(("k1", "2024-06-01", 1L)).toDF("key", "day", "seqno")
        .write.partitionBy("day").parquet(path)
      Files.createDirectories(Paths.get(s"$path.old-dead0004-day=2024-06-01"))
      Files.createDirectories(Paths.get(s"$path.old-dead0005-day=2024-06-02"))
      // A tmp whose partition subdir has no live counterpart: the
      // compaction died after the rename-aside, before the move-in.
      Files.createDirectories(Paths.get(s"$path.tmp-dead0006/day=2024-06-03"))
      val r = Maintenance.vacuumInspect(path, graceMs = 0L)
      assert(r.deleted == Seq(s"$path.old-dead0004-day=2024-06-01"))
      assert(r.quarantined.toSet == Set(s"$path.old-dead0005-day=2024-06-02",
        s"$path.tmp-dead0006"))
    }
  }

  test("compact leftover tmp (kill mid-compaction) never shadows reads; vacuum clears it") {
    val path = tmpDir("ckill") + "/t"
    val b = (1 to 20).map(i => (s"k$i", "2024-06-01", 1L, i))
      .toDF("key", "day", "seqno", "v")
    MergeWriter.mergePartitioned(spark, b, path, Seq("key"), Seq("seqno"), "day")
    // Simulate a compaction killed after its tmp write, before the swap.
    spark.read.parquet(s"$path/day=2024-06-01").coalesce(1)
      .write.parquet(s"$path.tmp-kill0001/day=2024-06-01")
    assert(spark.read.parquet(path).count() == 20) // reads see only `path`
    val removed = Maintenance.vacuum(path, graceMs = 0L)
    assert(removed == Seq(s"$path.tmp-kill0001"))
    // And a rerun completes the job the kill interrupted.
    val r = Maintenance.compact(spark, path)
    assert(spark.read.parquet(path).count() == 20 && r.examined == 1)
  }
}
