package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Maintenance plane for MergeWriter-laid-out tables: small-file
  * compaction and orphan vacuum. The reference never needs either
  * (Postgres compacts itself, vacuums itself — autovacuum); a parquet
  * lake at 100 TB needs both as explicit operators:
  *
  *  - A live tail running small triggers (perfbench `tail` lands one
  *    block a second) rewrites its hot date partitions every few
  *    seconds, each rewrite fanning out to shuffle-partition-count
  *    files; a bulk backfill written by another engine can leave
  *    thousands of row-group-sized fragments per partition. Every later
  *    scan pays per-file open cost (on object stores, a GET per file) —
  *    the classic small-files problem. [[compact]] rewrites only the
  *    partitions whose file count exceeds what their byte size needs.
  *
  *  - The rename-aside swap ([[TableSwap]]) is crash-SAFE but not
  *    crash-CLEAN: it can strand sibling tmp and aside directories that
  *    hold a full copy of the data they were swapping. [[vacuum]]
  *    removes them once they are older than a grace period (the grace
  *    is what keeps an IN-FLIGHT merge's tmp dir safe; size it well
  *    above the longest merge, e.g. hours).
  *
  * Both operators preserve MergeWriter's layout contracts exactly:
  * bucketed file sets (flat or per-partition) are never rewritten — the
  * bucketed writer already lands one file per bucket, and renaming
  * bucket-id-carrying files would corrupt the layout readers declare via
  * BucketedLayout.registerExternal. Partition-scoped rewrites are the
  * same per-entry [[TableSwap]] as the merges, so a crash mid-compaction
  * leaves every partition either fully old or fully new, and each swap
  * rotates the marker like any other (compaction moves bytes, never
  * rows, so the counts sidecar keeps its counts under the new uid).
  *
  * Single-writer assumption, same as the merge paths: one maintenance or
  * merge job per table at a time (the ingest loop's gate).
  */
object Maintenance {

  /** What [[compact]] did. `skippedBucketed` counts partitions (or the
    * flat root) left alone because their files carry bucket ids. */
  case class CompactReport(
      examined: Int,
      rewritten: Int,
      skippedBucketed: Int,
      filesBefore: Long,
      filesAfter: Long,
      bytes: Long)

  /** Data files = parquet parts; `_SUCCESS`/dot-sidecars are not
    * compaction input. */
  private def dataFiles(dir: String): Seq[(String, Long)] =
    MergeWriter.io.fileSizes(dir).filterNot { case (n, _) =>
      n.startsWith("_") || n.startsWith(".") }

  /** Rewrite table fragments at `path` so each partition holds
    * `ceil(bytes / targetFileBytes)` files instead of one per writer
    * task. Flat tables rewrite through the same atomic whole-table swap
    * as [[MergeWriter.merge]]; partitioned tables rewrite ONLY the
    * partitions that are over-fragmented, each through its own
    * rename-aside swap (a steady stream leaves cold partitions
    * untouched — the maintenance cost tracks the hot set, not table
    * history). `coalesce` (not `repartition`) does the narrowing: no
    * shuffle, the rewrite is a read + write of just the bytes it
    * compacts.
    *
    * `sortCol` upgrades the rewrite from packing to CLUSTERING: rewritten
    * data is range-repartitioned and sorted on the column, so the parquet
    * footer min/max statistics become disjoint across files and row
    * groups and a later range/point predicate on that column skips
    * everything outside its range at the scan — the data-skipping layout
    * for the dominant access pattern (time-range scans over event/fact
    * tables; the reference indexes the same columns, e.g. donated_at,
    * for the same reason — donations/models.py's indexed timestamps).
    * The trade is explicit: clustering pays ONE range shuffle of the
    * bytes it rewrites (sampled range partitioner, so output files stay
    * byte-balanced even under value skew), packing pays none. Compaction
    * still triggers on fragmentation only — an already-compact partition
    * is not rewritten just to sort it.
    *
    * `targetFiles` pins the output file count per rewritten unit
    * directly, overriding the byte-derived `ceil(bytes/targetFileBytes)`.
    * The byte rule mis-sizes exactly when compaction matters most: a
    * badly fragmented partition's bytes are mostly per-file footer
    * overhead, so the byte-derived count can EXCEED the fragment count
    * and skip the fold entirely. Production sizes by bytes; benches and
    * small stores pin the count. */
  def compact(
      spark: SparkSession,
      path: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      sortCol: Option[String] = None,
      targetFiles: Option[Int] = None): CompactReport = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    require(targetFiles.forall(_ > 0), "targetFiles must be positive")
    val io = MergeWriter.io
    if (!io.exists(path))
      return CompactReport(0, 0, 0, 0L, 0L, 0L)

    val partDirs = io.listDir(path).collect {
      case (n, true) if n.contains("=") => n }

    if (partDirs.isEmpty) {
      // Flat layout (bootstrap tables, mergeBucketed output).
      val files = dataFiles(path)
      if (files.isEmpty) return CompactReport(1, 0, 0, 0L, 0L, 0L)
      if (BucketedLayout.looksBucketed(path))
        return CompactReport(1, 0, 1, files.size.toLong, files.size.toLong, 0L)
      val bytes = files.map(_._2).sum
      val need = targetFiles.getOrElse(needFiles(bytes, targetFileBytes))
      if (files.size <= need)
        return CompactReport(1, 0, 0, files.size.toLong, files.size.toLong, 0L)
      MergeWriter.writeAndSwap(narrow(spark.read.parquet(path), need, sortCol), path)
      CompactReport(1, 1, 0, files.size.toLong,
        dataFiles(path).size.toLong, bytes)
    } else {
      var rewritten = 0; var skipped = 0
      var before = 0L; var after = 0L; var movedBytes = 0L
      partDirs.foreach { dirName =>
        val dir = s"$path/$dirName"
        val files = dataFiles(dir)
        before += files.size
        if (files.nonEmpty && BucketedLayout.looksBucketed(dir)) {
          skipped += 1; after += files.size
        } else if (files.nonEmpty) {
          val bytes = files.map(_._2).sum
          val need = targetFiles.getOrElse(needFiles(bytes, targetFileBytes))
          if (files.size > need) {
            // Hive-style partition files don't carry the partition
            // column, and the rewrite puts the same dir back in place,
            // so reading the dir directly is exact.
            val uid = TableSwap.newUid()
            narrow(spark.read.parquet(dir), need, sortCol).write
              .mode("overwrite").parquet(s"${TableSwap.tmpPath(path, uid)}/$dirName")
            // Counts re-stamped under this swap's uid only while they are
            // valid: a stale sidecar must stay detectably stale.
            val marker = TableSwap.markerUid(path)
            MergeWriter.readCountsSidecar(path).foreach { case (counts, u) =>
              if (u.nonEmpty && u == marker)
                MergeWriter.writeCountsSidecar(path, counts, uid) }
            TableSwap.replaceDirs(path, uid, Seq(dirName))
            TableSwap.stamp(path, uid)
            rewritten += 1; movedBytes += bytes
            after += dataFiles(dir).size
          } else after += files.size
        }
      }
      CompactReport(partDirs.size, rewritten, skipped, before, after,
        movedBytes)
    }
  }

  private def needFiles(bytes: Long, target: Long): Int =
    math.max(1L, (bytes + target - 1) / target).toInt

  /** Narrow `df` to `need` output files: shuffle-free `coalesce` for
    * plain packing, range-repartition + in-partition sort for a
    * clustered (min/max-skippable) layout. The sort key is appended as a
    * tie within partitions so parquet row-group stats are monotone even
    * inside one file. */
  private def narrow(df: DataFrame, need: Int,
      sortCol: Option[String]): DataFrame = sortCol match {
    case Some(c) =>
      require(df.columns.contains(c),
        s"compact sortCol '$c' is not a column of the table")
      df.repartitionByRange(need, col(c)).sortWithinPartitions(col(c))
    case None => df.coalesce(need)
  }

  /** What [[vacuumInspect]] decided: `deleted` artifacts were removed;
    * `quarantined` artifacts were SPARED because the swap they belong to
    * shows evidence of never completing — they may hold the only copy of
    * the affected data and need manual recovery, not deletion. */
  case class VacuumReport(deleted: Seq[String], quarantined: Seq[String])

  /** Delete crash-stranded swap artifacts next to table `path`:
    * sibling `<table>.tmp-<uid>` (a write that never swapped in),
    * `<table>.old-<uid>…` (an aside copy whose delete never ran), and
    * torn `.tmp` halves of the sidecar/marker small-file writes — but
    * only those last modified more than `graceMs` ago, so the tmp dir
    * of an in-flight merge (or a concurrent compaction's aside) is
    * never touched.
    *
    * Age alone is NOT sufficient: after a crash between the rename-aside
    * and move-in steps, the aside/tmp dir holds the ONLY copy of the
    * affected data — the very recoverability the swap protocol's
    * crash-safe claim rests on — and a vacuum past the grace period must
    * not destroy it while the table is still missing those rows. So a
    * data artifact (`.tmp-`/`.old-`) is deleted only when the swap it
    * belongs to verifiably COMPLETED; it is quarantined (returned, not
    * deleted) when any completion check fails:
    *  - the live table dir is missing entirely (whole-table swap died
    *    between its two renames);
    *  - the counts-sidecar uid and swap-marker uid disagree — the
    *    sidecar-before-swap / marker-after protocol's crash detector
    *    (partition- and bucket-scoped merges);
    *  - the artifact names a partition (`<table>.old-<uid>-<dir>`, or a
    *    partition subdir inside a tmp) whose live partition dir is
    *    missing — a table without a counts sidecar (or with a stale one)
    *    gives the uid check nothing to see.
    * Torn small-file `.tmp` halves are always safe to drop: the atomic
    * string writes they belong to are never the only copy of row data. */
  def vacuumInspect(path: String, graceMs: Long,
      nowMs: Long = System.currentTimeMillis()): VacuumReport = {
    val io = MergeWriter.io
    val slash = path.lastIndexOf('/')
    require(slash > 0, s"vacuum needs an absolute table path, got $path")
    val parent = path.substring(0, slash)
    val base = path.substring(slash + 1)
    def smallFileTmp(n: String): Boolean =
      Seq(MergeWriter.sidecarPath(base), TableSwap.markerPath(base))
        .exists(f => n.startsWith(s"$f.tmp"))
    val aged = io.listDir(parent).collect {
      case (n, _) if TableSwap.isTmpOf(base, n) ||
        TableSwap.isAsideOf(base, n) || smallFileTmp(n) => n
    }.filter { n =>
      val mtime = io.lastModifiedMs(s"$parent/$n")
      mtime > 0L && nowMs - mtime >= graceMs
    }

    val liveMissing = !io.exists(path)
    val uidMismatch = (for {
      marker <- io.readString(TableSwap.markerPath(path))
      (_, sidecarUid) <- MergeWriter.readCountsSidecar(path)
      if sidecarUid.nonEmpty
    } yield marker != sidecarUid).getOrElse(false)
    def swapIncomplete(n: String): Boolean =
      liveMissing || uidMismatch || {
        if (TableSwap.isAsideOf(base, n))
          TableSwap.asideEntry(base, n).exists(d => !io.exists(s"$path/$d"))
        else if (TableSwap.isTmpOf(base, n))
          // a tmp's partition subdirs must all have live counterparts
          io.listDir(s"$parent/$n").exists { case (d, isDir) =>
            isDir && d.contains("=") && !io.exists(s"$path/$d") }
        else false
      }

    val (spared, doomed) = aged.partition(n =>
      !smallFileTmp(n) && swapIncomplete(n))
    VacuumReport(
      doomed.map { n =>
        val full = s"$parent/$n"
        io.deleteRecursively(full)
        full
      },
      spared.map(n => s"$parent/$n"))
  }

  /** [[vacuumInspect]]'s deletions alone — the original contract. */
  def vacuum(path: String, graceMs: Long,
      nowMs: Long = System.currentTimeMillis()): Seq[String] =
    vacuumInspect(path, graceMs, nowMs).deleted
}
