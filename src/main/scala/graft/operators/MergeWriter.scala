package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Last-writer-wins upsert over plain Parquet — the engine's equivalent of
  * the reference's `update_or_create` on natural keys
  * (utils.py:978-982; conditional unique constraints
  * donations/models.py:188-200). No lakehouse table format is available in
  * this environment, so the merge is read-union-dedup-rewrite with an
  * atomic directory swap.
  *
  * Semantics:
  *  - `keys` is the natural key; among rows sharing a key the one with the
  *    greatest `seq` ordering wins (ingest seq = block_height, shard_index,
  *    receipt_index, action_index — reproducing the reference's strictly
  *    sequential block processing, SURVEY §2.9).
  *  - Null columns in the winning row are backfilled from the previous
  *    version when `coalesceUpdates` is set — this reproduces partial
  *    UPDATE semantics (e.g. a payout transfer carries only paid_at;
  *    the amount from the original set-payouts row must survive).
  *  - Replay-idempotent: merging the same batch twice is a no-op, because
  *    identical (key, seq) rows dedup to one.
  *
  * Scale path (100 TB): this local implementation rewrites the whole
  * table; the production layout partitions by a stable hash/date of the
  * key and rewrites only partitions present in the incoming batch
  * (partition-scoped MERGE). The dedup itself is one shuffle on the key —
  * the same cost Delta/Iceberg MERGE pays. All layout mutations flow
  * through the [[TableIO]] seam, so the swap protocol ports to HDFS /
  * object stores by swapping that implementation, not this logic.
  */
object MergeWriter {

  /** Filesystem backend. Local by default; tests and cluster deployments
    * substitute their own. Deliberately a plain var — the engine
    * constructs no DI graph, and merge call sites are all driver-side. */
  @volatile var io: TableIO = LocalTableIO

  /** LWW-dedup `incoming` against the existing table at `path` and
    * atomically replace it. Returns the merged row count. */
  def merge(
      spark: SparkSession,
      incoming: DataFrame,
      path: String,
      keys: Seq[String],
      seq: Seq[String],
      coalesceUpdates: Boolean = true): Long = {

    val existing: Option[DataFrame] =
      if (io.exists(path)) Some(spark.read.parquet(path)) else None

    val unioned = existing match {
      case Some(old) => old.unionByName(incoming, allowMissingColumns = true)
      case None => incoming
    }

    val merged0 =
      if (coalesceUpdates) backfillNulls(unioned, keys, seq) else unioned

    val merged = Relational.lwwDedup(merged0, keys, seq.map(col))

    // The row count rides the WRITE job as an observed metric: a
    // separate count() action would double every flat merge's job count
    // (and need the persist this used to carry) — at 30 merged tables
    // per ingest micro-batch, the extra stage submissions are driver
    // event-loop pressure, the measured serve-plane bottleneck. The
    // Observation resolves once the write's action completes.
    val obs = new org.apache.spark.sql.Observation(
      "merge-rows-" + java.util.UUID.randomUUID().toString.take(8))
    writeAndSwap(
      preWriteWrap(path, merged).observe(obs, count(lit(1)).as("n")), path)
    awaitObserved(obs).get("n").fold(0L)(_.asInstanceOf[Long])
  }

  /** Test seam for the Observation-fused count contract: wraps the
    * merged frame IMMEDIATELY below the observe+write, so a failure the
    * wrapper injects lands in the WRITE stage's own tasks (post-shuffle
    * — the stage that updates the CollectMetrics accumulator and runs
    * the file-commit protocol), not the input scan. Identity in
    * production; RetryReplaySpec installs a first-attempt-fails wrapper
    * keyed by table path to pin that a failed write task's PARTIAL
    * accumulator updates are dropped and the retried task's counts land
    * exactly once. Takes the table path so a concurrently-merging suite
    * can never be wrapped by another suite's injection. */
  @volatile private[graft] var preWriteWrap: (String, DataFrame) => DataFrame =
    (_, df) => df

  /** Bounded wait for an Observation's metrics row. The Observation is
    * ALWAYS notified once the write's action completes — but the row it
    * resolves with can be SCHEMALESS (a zero-task empty write notifies
    * with no populated metrics; Spark's own `Observation.get` folds
    * null-row/null-schema to Map.empty, mirrored here: missing keys mean
    * zero rows). The bound guards a FUTURE plan shape that never
    * notifies at all — there, `obs.get` would block forever; this fails
    * loudly instead of hanging the merge. */
  private def awaitObserved(
      obs: org.apache.spark.sql.Observation): Map[String, Any] = {
    import scala.concurrent.duration._
    val row =
      try scala.concurrent.Await.result(obs.future, 120.seconds)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          throw new IllegalStateException(
            s"Observation '${obs.name}' never resolved: the write " +
              "completed but its plan carried no CollectMetrics entry " +
              "(plan shape changed?) — refusing to hang the merge.")
      }
    if (row == null || row.schema == null) Map.empty
    else row.schema.fieldNames.map(f => f -> row.getAs[Any](f)).toMap
  }

  /** Write `df` to a tmp dir and swap it in whole ([[TableSwap]]). */
  private[operators] def writeAndSwap(df: DataFrame, path: String): Unit = {
    val uid = TableSwap.newUid()
    df.write.mode("overwrite").parquet(TableSwap.tmpPath(path, uid))
    TableSwap.replace(path, uid)
    TableSwap.stamp(path, uid)
  }

  // ------------------------------------------------------------------
  // Dirty-set journal: every merge path records WHICH partitions/buckets
  // it touched as one append-only entry file under `<table>.dirty.d/`
  // (newline-separated dir/bucket names, unique file per batch, atomic
  // write). Incremental consumers (GoldRefresh) snapshot the entry FILES,
  // union their names, re-derive only those slices, and delete exactly
  // the files they snapshotted — so an ingest batch landing between the
  // consumer's snapshot and its commit is never lost (a shared
  // read-modify-write file would drop it). Appends happen BEFORE the
  // swap: a merge that crashes mid-swap leaves its slices marked (a
  // consumer re-deriving an unchanged slice is a no-op delta; a missing
  // mark would silently leave gold stale forever). The journal is bounded
  // by batch count between refreshes × touched-slice names — both small.
  // ------------------------------------------------------------------
  private[graft] def dirtyPath(path: String): String = path + ".dirty"
  private[graft] def dirtyDir(path: String): String = path + ".dirty.d"
  /** Snapshot handle for the legacy single-file journal (pre-append-only
    * layouts); consumeDirty clears that file when the handle is present. */
  private[graft] val LegacyDirtyEntry = "<legacy>"

  /** The consumer's view: the names marked dirty plus the entry files
    * carrying them (the consumption handles). */
  final case class DirtySnapshot(files: Set[String], names: Set[String]) {
    def nonEmpty: Boolean = names.nonEmpty
  }

  /** `entryId`, when given, makes the append IDEMPOTENT: the entry file
    * is named by it, so a crash-resumed writer re-running its commit
    * overwrites its own entry (same content) instead of stacking a
    * duplicate per resume. Callers without a stable id (the ordinary
    * merge paths, which never replay a commit) keep the random name. */
  private[operators] def appendDirty(path: String,
      names: Iterable[String], entryId: Option[String] = None): Unit = {
    if (names.isEmpty) return
    val dd = dirtyDir(path)
    io.createDirectories(dd)
    val uid = entryId.getOrElse(java.util.UUID.randomUUID().toString.take(8))
    io.writeStringAtomic(s"$dd/append-$uid",
      names.toSeq.distinct.sorted.mkString("\n"))
    // Writer-side compaction: tables with no incremental consumer (most
    // silver tables — only donations/accounts feed the gold beat today)
    // would otherwise grow one entry file per merge FOREVER. Above the
    // threshold, fold every entry into one fresh file, then delete the
    // folded ones. Safe against a concurrent consumer: the fold lands
    // BEFORE the deletes, so a consumer that snapshotted the old files
    // deletes already-gone files (no-op) while the fold file still
    // carries their names — over-marking re-derives a no-op delta;
    // under-marking is impossible. Names are bounded by the table's
    // slice count, so the folded file stays small.
    val entries = listEntries(dd)
    if (entries.size > 64) {
      val union = entries.flatMap(f => readEntry(dd, f)).toSet
      io.writeStringAtomic(
        s"$dd/append-${java.util.UUID.randomUUID().toString.take(8)}",
        union.toSeq.sorted.mkString("\n"))
      entries.foreach(f => io.deleteRecursively(s"$dd/$f"))
    }
  }

  private def parseNames(txt: String): Set[String] =
    txt.split('\n').map(_.trim).filter(_.nonEmpty).toSet

  /** Journal entry-file enumeration + parse, shared by the compactor and
    * the consumer snapshot so they can never fold/consume different
    * name sets. */
  private def listEntries(dd: String): Seq[String] =
    if (io.exists(dd))
      io.listDir(dd).collect { case (n, false) if n.startsWith("append-") => n }
    else Seq.empty

  private def readEntry(dd: String, f: String): Set[String] =
    io.readString(s"$dd/$f").map(parseNames).getOrElse(Set.empty)

  def snapshotDirty(path: String): DirtySnapshot = {
    val dd = dirtyDir(path)
    val entries = listEntries(dd)
    val names = entries.flatMap(f => readEntry(dd, f)).toSet
    val legacy = io.readString(dirtyPath(path)).map(parseNames)
      .getOrElse(Set.empty)
    DirtySnapshot(
      entries.toSet ++ (if (legacy.nonEmpty) Set(LegacyDirtyEntry) else Set.empty),
      names ++ legacy)
  }

  def readDirty(path: String): Set[String] = snapshotDirty(path).names

  def clearDirty(path: String): Unit = {
    if (io.exists(dirtyPath(path))) io.deleteRecursively(dirtyPath(path))
    if (io.exists(dirtyDir(path))) io.deleteRecursively(dirtyDir(path))
  }

  /** Delete exactly the entry files a [[snapshotDirty]] returned — the
    * consumer's commit. Entries appended AFTER the snapshot are untouched
    * files and survive for the next cycle; deleting an already-deleted
    * entry is a no-op, so a crash-resumed consumer can re-commit. */
  def consumeDirty(path: String, snapshot: DirtySnapshot): Unit = {
    snapshot.files.foreach {
      case LegacyDirtyEntry =>
        if (io.exists(dirtyPath(path))) io.deleteRecursively(dirtyPath(path))
      case f =>
        val p = s"${dirtyDir(path)}/$f"
        if (io.exists(p)) io.deleteRecursively(p)
    }
  }

  /** Replace whole rows by natural key: a row in `replacement` overwrites
    * the table row sharing its key; all other rows pass through unchanged.
    * For read-modify-write patches (the array-delta M2M updates) where the
    * replacement row was DERIVED from the current table row — an LWW merge
    * would make the outcome depend on a seq tie-break between a row and its
    * own patched copy. Returns the merged row count.
    *
    * Flat-only contract: the rewrite goes through the flat writeAndSwap,
    * which would silently flatten a partition-laid-out table and strand
    * its counts sidecar — so a partitioned target is refused loudly. */
  def replaceRows(
      spark: SparkSession,
      replacement: DataFrame,
      path: String,
      keys: Seq[String]): Long = {
    require(!hasPartitionDirs(path),
      s"replaceRows: $path has a partitioned layout; the flat rewrite " +
        "would flatten it and strand its counts sidecar (add the table to " +
        "a partition-aware patch path instead)")
    val existing = spark.read.parquet(path)
    val kept = existing.join(
      broadcast(replacement.select(keys.map(col): _*).distinct()),
      keys, "left_anti")
    val merged = kept.unionByName(replacement, allowMissingColumns = true)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = merged.count()
    writeAndSwap(merged, path)
    merged.unpersist()
    n
  }

  /** LWW merge that writes the merged table in BUCKETED layout — the
    * storage discipline that makes every downstream join on `bucketCol`
    * exchange-free (BucketedLayout's contract): the dimension tables the
    * query plane joins constantly (accounts, and the gold account_stats
    * bucketed the same way) pay their partitioning once per merge instead
    * of once per query. Same LWW/backfill semantics as [[merge]]; the
    * write path goes through a temporary catalog table (bucketBy is a
    * table-write-only API), the files swap in with the same rename-aside
    * protocol, and the temporary catalog entry is dropped (external:
    * metadata only). Readers re-declare the layout with
    * [[BucketedLayout.registerExternal]]. Rows are repartitioned to the
    * bucket spec before the write, so each bucket lands in ONE file and
    * scans can also reuse the within-bucket sort. */
  /** Bucket id a row lands in under Spark's bucketed writer — the SAME
    * Murmur3(seed 42) + pmod that both the bucketBy write path and a
    * shuffle exchange use (`HashPartitioning.partitionIdExpression`), so
    * a batch maps to its at-rest buckets without writing anything.
    * Equivalence is property-tested in MergeWriterSpec against file
    * names the real writer produced. */
  private[graft] def bucketIdExpr(bucketCol: String, buckets: Int) =
    pmod(hash(col(bucketCol)), lit(buckets))

  private val BucketFileName = "part-.*_(\\d{5})\\..*".r
  private[graft] def bucketIdOfFile(name: String): Option[Int] =
    name match {
      case BucketFileName(id) => Some(id.toInt)
      case _ => None
    }

  def mergeBucketed(
      spark: SparkSession,
      incoming: DataFrame,
      path: String,
      keys: Seq[String],
      seq: Seq[String],
      bucketCol: String,
      buckets: Int,
      coalesceUpdates: Boolean = true): Long = {
    // BUCKET-SCOPED path — mergePartitioned's analogue for flat bucketed
    // dimensions, and the 100 TB discipline: only the buckets the batch
    // hashes into are read, merged and file-swapped, so a micro-batch's
    // merge cost scales with the batch's bucket span, never the
    // dimension's size (the full rewrite below is O(table) per batch —
    // ruinous for a live tail trickling single blocks into a large
    // accounts dimension). Requirements: the table already IS uniformly
    // bucketed on disk, and the batch adds no new columns (a scoped
    // write with a wider schema would leave MIXED file schemas that a
    // plain reader resolves from one arbitrary footer). Anything else —
    // bootstrap, layout migration, schema widening — takes the full
    // rewrite: a one-off migration cost, never steady-state.
    if (io.exists(path) && BucketedLayout.looksBucketed(path)) {
      val tableSchema = spark.read.parquet(path).schema
      if (incoming.columns.toSet.subsetOf(tableSchema.fieldNames.toSet) &&
          !widensTableTypes(spark, tableSchema, incoming))
        return mergeBucketedScoped(spark, incoming, path, keys, seq,
          bucketCol, buckets, coalesceUpdates, tableSchema)
    }
    val existing: Option[DataFrame] =
      if (io.exists(path)) Some(spark.read.parquet(path)) else None
    val unioned = existing match {
      case Some(old) => old.unionByName(incoming, allowMissingColumns = true)
      case None => incoming
    }
    val merged0 =
      if (coalesceUpdates) backfillNulls(unioned, keys, seq) else unioned
    val merged = Relational.lwwDedup(merged0, keys, seq.map(col))
    val uid = TableSwap.newUid()
    val tmp = TableSwap.tmpPath(path, uid)
    // Per-bucket counts double as the total AND seed the counts sidecar
    // (so the next scoped merge never pays a heal scan) — and they ride
    // the WRITE job as observed per-bucket aggregates rather than a
    // separate groupBy+collect action: the extra job per table per
    // micro-batch was driver event-loop pressure (the measured
    // serve-plane bottleneck), and dropping it also drops the persist
    // the two-pass shape needed.
    val obs = new org.apache.spark.sql.Observation(s"merge-buckets-$uid")
    val bucketAggs = (0 until buckets).map(b =>
      count(when(bucketIdExpr(bucketCol, buckets) === b, 1)).as(s"b$b"))
    writeBucketedDir(preWriteWrap(path, merged)
      .observe(obs, bucketAggs.head, bucketAggs.tail: _*),
      tmp, bucketCol, buckets, uid)
    val observed = awaitObserved(obs)
    val perBucket: Map[String, Long] = (0 until buckets)
      .map(b => s"bucket=$b" ->
        observed.get(s"b$b").fold(0L)(_.asInstanceOf[Long]))
      .filter(_._2 > 0L).toMap
    val n = perBucket.values.sum
    // A zero-row bucketed write produces no data files; readers probe
    // looksBucketed() and fall back to plain parquet, so the empty case
    // keeps the flat bootstrap write (same contract as
    // mergePartitioned's empty-batch bootstrap). The empty tmp written
    // above holds only metadata — drop it and delegate. (Detecting
    // emptiness POST-write costs one extra zero-task write submission
    // in this rare path — an empty frame schedules no tasks — which is
    // cheaper than the pre-write count job the old two-pass shape paid
    // on EVERY merge.)
    if (n == 0) {
      io.deleteRecursively(tmp)
      return merge(spark, incoming, path, keys, seq, coalesceUpdates)
    }
    writeCountsSidecar(path, perBucket, uid)
    appendDirty(path, perBucket.keys)
    TableSwap.replace(path, uid)
    TableSwap.stamp(path, uid)
    n
  }

  /** Merge `incoming` into ONLY the buckets it hashes into: read those
    * buckets' files, LWW-merge, rewrite them through a bucketed tmp
    * write (empty buckets produce no files, so the tmp holds exactly the
    * affected buckets' replacements) and swap at FILE granularity
    * ([[TableSwap.replaceFiles]]) — the one-file-per-bucket invariant
    * holds because each affected bucket's old file is replaced by its
    * merged successor. */
  private def mergeBucketedScoped(
      spark: SparkSession,
      incoming: DataFrame,
      path: String,
      keys: Seq[String],
      seq: Seq[String],
      bucketCol: String,
      buckets: Int,
      coalesceUpdates: Boolean,
      tableSchema: org.apache.spark.sql.types.StructType): Long = {
    // Driver-small by construction: bounded by the bucket count, never
    // data volume.
    val affected: Seq[Int] = incoming
      .select(bucketIdExpr(bucketCol, buckets).as("__b"))
      .distinct().collect().map(_.getInt(0)).sorted.toSeq
    // affected empty ⟺ incoming empty (bucket id is never null): leave
    // the table untouched, report the current total from the sidecar.
    if (affected.isEmpty)
      return currentBucketCounts(spark, path, bucketCol, buckets).values.sum

    val affectedNames = affected.map(b => s"bucket=$b").toSet
    val oldFiles: Seq[String] = io.fileSizes(path).map(_._1)
      .filter(f => bucketIdOfFile(f).exists(affected.contains))
    val oldBase: DataFrame =
      if (oldFiles.isEmpty)
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          tableSchema)
      else spark.read.schema(tableSchema)
        .parquet(oldFiles.map(f => s"$path/$f"): _*)
    // Union through the TABLE's schema (incoming may be missing columns;
    // never wider — the dispatcher checked), so the rewritten files
    // carry exactly the same column set as the untouched buckets.
    val unioned = oldBase.unionByName(incoming, allowMissingColumns = true)
    val filled =
      if (coalesceUpdates) backfillNulls(unioned, keys, seq) else unioned
    val merged = Relational.lwwDedup(filled, keys, seq.map(col))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mergedPerBucket: Map[String, Long] = merged
      .groupBy(bucketIdExpr(bucketCol, buckets)).count()
      .collect().map(r => (s"bucket=${r.get(0)}", r.getLong(1))).toMap
    // The scoped write is only sound if every merged row hashes back into
    // an affected bucket — guaranteed when bucketCol is key-determined
    // (the layout contract); guard it anyway.
    require(mergedPerBucket.keySet.subsetOf(affectedNames),
      s"scoped bucketed merge leaked rows outside ${affectedNames.toSeq.sorted}")

    val uid = TableSwap.newUid()
    writeBucketedDir(merged, TableSwap.tmpPath(path, uid), bucketCol,
      buckets, uid)
    merged.unpersist()

    val newCounts = currentBucketCounts(spark, path, bucketCol, buckets) ++
      mergedPerBucket
    writeCountsSidecar(path, newCounts, uid)
    appendDirty(path, affectedNames)

    TableSwap.replaceFiles(path, uid, oldFiles)
    TableSwap.stamp(path, uid)
    newCounts.values.sum
  }

  /** What [[mergeAdditiveBucketed]] observed INSIDE the affected buckets:
    * row and distinct-key counts before/after the merge. Incremental
    * consumers turn these into exact global-counter deltas (e.g. distinct
    * donors after = before + (distinctAfter − distinctBefore)) without
    * ever scanning the unaffected buckets. */
  case class AdditiveMergeStats(
      rowsBefore: Long,
      rowsAfter: Long,
      distinctBefore: Long,
      distinctAfter: Long)

  /** ADDITIVE bucket-scoped merge — the standing-state maintenance
    * primitive for incremental view maintenance (gold refresh): rows
    * sharing `keys` are combined by SUMMING `addCols` (mergeable-monoid
    * state, the q_inc1 discipline made durable), and a row whose
    * `liveCol` nets to ≤ 0 is dropped (its key has no surviving facts).
    * Unlike the LWW merges, deltas may carry NEGATIVE contributions —
    * the Δ⁻ of a rewritten fact partition — so state absorbs updates,
    * not just appends.
    *
    * Only the buckets the delta hashes into are read, re-summed and
    * file-swapped (the same [[TableSwap]] file-entry swap as the LWW
    * scoped path): per refresh, state cost
    * scales with the batch's key span, never the state's size. The
    * delta's columns must be exactly the table's (keys ++ addCols);
    * summed columns are cast back to their declared types so the state
    * schema never drifts across merges (Spark widens decimal sums).
    * Decimal/long addition is associative and commutative, so any
    * arrival order yields bit-identical state. */
  def mergeAdditiveBucketed(
      spark: SparkSession,
      delta: DataFrame,
      path: String,
      keys: Seq[String],
      addCols: Seq[String],
      liveCol: String,
      bucketCol: String,
      buckets: Int,
      distinctCol: String): AdditiveMergeStats = {
    val token = java.util.UUID.randomUUID().toString.take(8)
    val st = applyAdditiveBucketed(spark, delta, path, keys, addCols,
      liveCol, bucketCol, buckets, distinctCol, token)
    clearApplyManifest(path, token)
    st
  }

  /** Two-phase, crash-resumable form of [[mergeAdditiveBucketed]] for
    * consumers that record a generation fence AFTER the merge (the gold
    * refresh): the post-state is STAGED (tmp files + an atomic manifest
    * at `<path>.apply-<token>`) without touching the live table, then
    * COMMITTED with conditional, individually-idempotent moves. A run
    * resumed after a crash anywhere inside the commit finds the manifest
    * and RE-COMMITS the staged post-state — it never re-derives the merge
    * from a possibly half-swapped table, which would apply the delta
    * twice. The caller's protocol: apply → record its own fence (e.g.
    * generation marker) → [[clearApplyManifest]]. `token` must be unique
    * per logical apply of this table (the gold plane uses `gen<N>`). */
  def applyAdditiveBucketed(
      spark: SparkSession,
      delta: DataFrame,
      path: String,
      keys: Seq[String],
      addCols: Seq[String],
      liveCol: String,
      bucketCol: String,
      buckets: Int,
      distinctCol: String,
      token: String): AdditiveMergeStats =
    io.readString(applyManifestPath(path, token)) match {
      case Some(txt) => commitStagedAdditive(path, parseApplyManifest(txt))
      case None =>
        stageAdditive(spark, delta, path, keys, addCols, liveCol, bucketCol,
            buckets, distinctCol, token) match {
          case None => AdditiveMergeStats(0L, 0L, 0L, 0L)
          case Some(m) => commitStagedAdditive(path, m)
        }
    }

  private[graft] def applyManifestPath(path: String, token: String): String =
    s"$path.apply-$token"

  def clearApplyManifest(path: String, token: String): Unit = {
    val mf = applyManifestPath(path, token)
    if (io.exists(mf)) io.deleteRecursively(mf)
  }

  private final case class ApplyManifest(mode: String, uid: String,
      tmp: String, oldFiles: Seq[String], counts: Map[String, Long],
      dirty: Set[String], stats: AdditiveMergeStats)

  private def renderApplyManifest(m: ApplyManifest): String = Seq(
    s"mode=${m.mode}", s"uid=${m.uid}", s"tmp=${m.tmp}",
    s"old=${m.oldFiles.mkString(";")}",
    s"counts=${m.counts.toSeq.sortBy(_._1).map { case (k, v) => s"$k:$v" }.mkString(";")}",
    s"dirty=${m.dirty.toSeq.sorted.mkString(";")}",
    s"stats=${m.stats.rowsBefore}|${m.stats.rowsAfter}|${m.stats.distinctBefore}|${m.stats.distinctAfter}")
    .mkString("\n")

  private def parseApplyManifest(txt: String): ApplyManifest = {
    val kv = txt.split('\n').map { l =>
      val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap
    val Array(a, b, c, d) = kv("stats").split('|')
    ApplyManifest(kv("mode"), kv("uid"), kv("tmp"),
      kv("old").split(';').filter(_.nonEmpty).toSeq,
      kv("counts").split(';').filter(_.nonEmpty).map { s =>
        val i = s.lastIndexOf(':'); s.take(i) -> s.drop(i + 1).toLong }.toMap,
      kv("dirty").split(';').filter(_.nonEmpty).toSet,
      AdditiveMergeStats(a.toLong, b.toLong, c.toLong, d.toLong))
  }

  /** Commit a staged additive post-state. Every step is conditional on
    * what is still on disk, so re-running after a crash at ANY point
    * converges to the same final layout; sidecar/marker/journal rewrites
    * are idempotent by content. */
  private def commitStagedAdditive(path: String,
      m: ApplyManifest): AdditiveMergeStats = {
    // The staged tmp is TableSwap.tmpPath(path, m.uid) (stageAdditive).
    if (m.mode == "bootstrap") TableSwap.replace(path, m.uid)
    else TableSwap.replaceFiles(path, m.uid, m.oldFiles)
    if (m.counts.nonEmpty) writeCountsSidecar(path, m.counts, m.uid)
    else if (io.exists(sidecarPath(path))) io.deleteRecursively(sidecarPath(path))
    // Entry named by the apply uid: a crash-resumed re-commit overwrites
    // its own journal entry instead of appending a duplicate per resume.
    appendDirty(path, m.dirty, entryId = Some(m.uid))
    TableSwap.stamp(path, m.uid)
    m.stats
  }

  /** Delete sibling `<path>.tmp-*` dirs not named by any live
    * `<path>.apply-*` manifest's `tmp=` entry — stranded staging from a
    * crash before the manifest write (the staging commit point). */
  private def sweepStrandedAdditiveTmp(path: String): Unit = {
    val slash = path.lastIndexOf('/')
    if (slash < 0) return
    val (parent, name) = (path.take(slash), path.drop(slash + 1))
    if (!io.exists(parent)) return
    val entries = io.listDir(parent)
    val liveTmp: Set[String] = entries.collect {
      case (n, false) if n.startsWith(name + ".apply-") =>
        io.readString(s"$parent/$n").flatMap(_.split('\n')
          .find(_.startsWith("tmp=")).map(_.stripPrefix("tmp=")))
    }.flatten.toSet
    entries.collect { case (n, true) if TableSwap.isTmpOf(name, n) =>
      s"$parent/$n" }
      .filterNot(liveTmp.contains)
      .foreach(io.deleteRecursively)
  }

  /** Stage the additive merge's post-state under a tmp dir + manifest.
    * Mutates NOTHING under the live table; the atomic manifest write is
    * the staging commit point (manifest present ⇒ tmp complete). Returns
    * None when the delta nets to no affected buckets. */
  private def stageAdditive(
      spark: SparkSession,
      delta: DataFrame,
      path: String,
      keys: Seq[String],
      addCols: Seq[String],
      liveCol: String,
      bucketCol: String,
      buckets: Int,
      distinctCol: String,
      token: String): Option[ApplyManifest] = {
    require(addCols.contains(liveCol), s"liveCol $liveCol not in addCols")
    require(keys.contains(bucketCol), s"bucketCol $bucketCol not in keys")
    require(delta.columns.toSet == (keys ++ addCols).toSet,
      s"additive delta columns ${delta.columns.toSeq} != ${keys ++ addCols}")
    val declared: Map[String, org.apache.spark.sql.types.DataType] =
      delta.schema.fields.map(f => f.name -> f.dataType).toMap
    def resum(df: DataFrame): DataFrame = df
      .groupBy(keys.map(col): _*)
      .agg(sum(col(addCols.head)).cast(declared(addCols.head)).as(addCols.head),
        addCols.tail.map(c => sum(col(c)).cast(declared(c)).as(c)): _*)
      .select((keys ++ addCols).map(col): _*) // pin column order = schema

    def stats(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), countDistinct(col(distinctCol))).head()
      (r.getLong(0), r.getLong(1))
    }

    // A crash INSIDE a previous stage — after its tmp write began, before
    // its manifest landed — strands `<path>.tmp-<uid>` with nothing
    // referencing it; only a full rebuild's artifact sweep would
    // otherwise reclaim it, so repeated crash/resume cycles on the
    // incremental path leak staging dirs. Reclaim here, at the start of
    // the next stage: any sibling tmp dir NOT named by a live apply
    // manifest is dead (manifest present ⇒ staging complete; the caller
    // protocol is single-writer per table, so no concurrent stage's tmp
    // can be in flight under us).
    sweepStrandedAdditiveTmp(path)
    val scoped = io.exists(path) && BucketedLayout.looksBucketed(path)
    val uid = TableSwap.newUid()
    val tmp = TableSwap.tmpPath(path, uid)
    def stageManifest(m: ApplyManifest): Some[ApplyManifest] = {
      io.writeStringAtomic(applyManifestPath(path, token),
        renderApplyManifest(m))
      Some(m)
    }
    if (!scoped) {
      // Bootstrap (or still-flat bootstrap table): fold everything once,
      // stage bucketed. An empty result stages a flat schema-only table
      // so readers never hit "unable to infer schema".
      val base: DataFrame =
        if (io.exists(path)) spark.read.schema(delta.schema).parquet(path)
        else spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), delta.schema)
      val merged = resum(base.unionByName(delta))
        .filter(col(liveCol) > 0)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val perBucket: Map[String, Long] = merged
        .groupBy(bucketIdExpr(bucketCol, buckets)).count()
        .collect().map(r => (s"bucket=${r.get(0)}", r.getLong(1))).toMap
      val (rowsAfter, distinctAfter) = stats(merged)
      if (rowsAfter == 0L) {
        merged.write.mode("overwrite").parquet(tmp)
        merged.unpersist()
        return stageManifest(ApplyManifest("bootstrap", uid, tmp, Nil,
          Map.empty, Set.empty, AdditiveMergeStats(0L, 0L, 0L, 0L)))
      }
      writeBucketedDir(merged, tmp, bucketCol, buckets, uid)
      merged.unpersist()
      return stageManifest(ApplyManifest("bootstrap", uid, tmp, Nil,
        perBucket, Set.empty,
        AdditiveMergeStats(0L, rowsAfter, 0L, distinctAfter)))
    }

    val tableSchema = spark.read.parquet(path).schema
    require(tableSchema.fieldNames.toSet == delta.columns.toSet,
      s"additive state at $path has columns ${tableSchema.fieldNames.toSeq}; " +
        s"delta carries ${delta.columns.toSeq}")
    val dAgg = resum(delta)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val affected: Seq[Int] = dAgg
      .select(bucketIdExpr(bucketCol, buckets).as("__b"))
      .distinct().collect().map(_.getInt(0)).sorted.toSeq
    if (affected.isEmpty) {
      dAgg.unpersist()
      return None
    }
    val affectedNames = affected.map(b => s"bucket=$b").toSet
    val oldFiles: Seq[String] = io.fileSizes(path).map(_._1)
      .filter(f => bucketIdOfFile(f).exists(affected.contains))
    val oldBase: DataFrame =
      if (oldFiles.isEmpty) spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), tableSchema)
      else spark.read.schema(tableSchema)
        .parquet(oldFiles.map(f => s"$path/$f"): _*)
    val (rowsBefore, distinctBefore) = stats(oldBase)
    val merged = resum(oldBase.unionByName(dAgg))
      .filter(col(liveCol) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mergedPerBucket: Map[String, Long] = merged
      .groupBy(bucketIdExpr(bucketCol, buckets)).count()
      .collect().map(r => (s"bucket=${r.get(0)}", r.getLong(1))).toMap
    require(mergedPerBucket.keySet.subsetOf(affectedNames),
      s"additive scoped merge leaked rows outside ${affectedNames.toSeq.sorted}")
    val (rowsAfter, distinctAfter) = stats(merged)
    writeBucketedDir(merged, tmp, bucketCol, buckets, uid)
    merged.unpersist(); dAgg.unpersist()
    // An affected bucket can legitimately EMPTY (all its keys netted to
    // zero): drop its stale sidecar entry rather than carrying a count
    // for a bucket with no file (which would force a heal scan later).
    val newCounts = (currentBucketCounts(spark, path, bucketCol, buckets) --
      affectedNames) ++ mergedPerBucket
    stageManifest(ApplyManifest("scoped", uid, tmp, oldFiles, newCounts,
      affectedNames,
      AdditiveMergeStats(rowsBefore, rowsAfter, distinctBefore, distinctAfter)))
  }

  /** Per-bucket row counts for a flat bucketed table, from the counts
    * sidecar when valid (uid matches the swap marker AND the sidecar's
    * bucket set matches the files on disk), else healed by one grouped
    * count over the table — seed cost, never steady-state. */
  private def currentBucketCounts(spark: SparkSession, path: String,
      bucketCol: String, buckets: Int): Map[String, Long] = {
    if (!io.exists(path)) return Map.empty
    val diskBuckets: Set[String] = io.fileSizes(path).map(_._1)
      .flatMap(bucketIdOfFile).map(b => s"bucket=$b").toSet
    if (diskBuckets.isEmpty) return Map.empty
    val markerUid = TableSwap.markerUid(path)
    val valid = readCountsSidecar(path).collect {
      case (counts, sidecarUid)
        if sidecarUid.nonEmpty && markerUid == sidecarUid &&
          counts.keySet == diskBuckets => counts
    }
    valid.getOrElse {
      val counted = spark.read.parquet(path)
        .groupBy(bucketIdExpr(bucketCol, buckets)).count()
        .collect().map(r => (s"bucket=${r.get(0)}", r.getLong(1))).toMap
      val uid = TableSwap.newUid()
      writeCountsSidecar(path, counted, uid)
      TableSwap.stamp(path, uid)
      counted
    }
  }

  /** Partition-scoped LWW merge — the 100 TB path. The table is laid out
    * as `path/<partitionCol>=<value>/...`; only partitions present in the
    * incoming batch are read, merged and atomically swapped. A steady
    * stream touching the last few hours rewrites a few date partitions,
    * not the table.
    *
    * Requirement: the partition value must be a pure, immutable function
    * of the natural key's row (e.g. date(donated_at) — set once at
    * creation), otherwise key versions could land in different partitions
    * and escape the dedup. This mirrors the reference's natural-key
    * immutability (upsert keys never change partition-determining fields).
    */
  def mergePartitioned(
      spark: SparkSession,
      incoming: DataFrame,
      path: String,
      keys: Seq[String],
      seq: Seq[String],
      partitionCol: String,
      coalesceUpdates: Boolean = true,
      bucket: Option[(String, Int)] = None): Long = {

    val affected: Seq[Any] = incoming.select(partitionCol).distinct()
      .collect().map(_.get(0)).toSeq
    // The distinct partition list must stay driver-small (dates/hours — it
    // is bounded by the batch's event-time span, not data volume).
    require(affected.size <= 10000,
      s"merge batch touches ${affected.size} partitions; repartition the batch window")
    // Directory names are reconstructed as "<col>=<value>"; Hive-escaping
    // (':' etc.) and null partitions (__HIVE_DEFAULT_PARTITION__) would
    // silently mismatch and lose data, so only plain filesystem-safe
    // partition values are accepted (use a formatted date string, not a
    // raw timestamp).
    affected.foreach { v =>
      require(v != null, s"$partitionCol: null partition values unsupported")
      require(v.toString.matches("[A-Za-z0-9._-]+"),
        s"$partitionCol value '$v' needs Hive escaping; format it as a plain string first")
    }

    val exists = io.exists(path)
    // Mirror of the unbucketed→bucketed migration below: a PLAIN merge
    // (bucket=None) into an already bucketed-partitioned table would put
    // plain-named files into the touched partitions, silently flipping
    // bucketedPartitionLayout to false and degrading every later read to
    // an exchange-paying plain scan with no error anywhere. The caller's
    // bucket spec and the on-disk layout must agree — fail loudly.
    require(!(exists && bucket.isEmpty && bucketedPartitionLayout(path)),
      s"mergePartitioned: $path is bucketed-partitioned on disk but the " +
        "merge passed no bucket spec; a plain write would silently " +
        "degrade the table's bucketed layout (pass the table's bucket " +
        "spec, or migrate deliberately)")
    // A flat (unpartitioned) layout at `path` — the empty-batch bootstrap
    // table, or a table written before partitioning was enabled — can't be
    // partition-pruned and would leave stale root files shadowing the
    // partition dirs. Migrate it wholesale: merge the FULL table and
    // rewrite as partitioned, once. A partitioned-but-UNBUCKETED table
    // receiving its first bucketed merge migrates the same way: a
    // partition-scoped write would leave MIXED file naming (bucketed
    // files in touched partitions, plain in the rest), which no bucketed
    // reader can serve.
    if (exists && (hasRootDataFiles(path) ||
        bucket.exists(_ => !bucketedPartitionLayout(path))))
      return migrateToPartitioned(spark, incoming, path, keys, seq,
        partitionCol, coalesceUpdates, bucket)
    val current: Option[DataFrame] =
      if (exists) Some(spark.read.parquet(path)) else None
    // Type widening (a store built before a column's type grew — e.g. the
    // int32→int64 shard_index upgrade — meeting the new writers) cannot be
    // written slice-scoped: untouched partitions would keep the narrow
    // physical type and the table's files would disagree, the exact
    // mixed-footer breakage scoped merges must never produce. Migrate
    // wholesale instead — a one-off upgrade cost, never steady-state.
    if (current.exists(cur => widensTableTypes(spark, cur.schema, incoming)))
      return migrateToPartitioned(spark, incoming, path, keys, seq,
        partitionCol, coalesceUpdates, bucket)
    val existingAffected: Option[DataFrame] =
      current.map(_.filter(col(partitionCol).isin(affected: _*)))

    val unioned = existingAffected match {
      case Some(old) => old.unionByName(incoming, allowMissingColumns = true)
      case None => incoming
    }
    // An empty batch (possible when every extracted row was gated or
    // quarantined) merges nothing: leave the table untouched and report the
    // current total from the sidecar. With no table yet, bootstrap a flat
    // schema-only table (readable; migrated on the first real merge).
    // Emptiness is read off the already-collected partition list — null
    // partition values were rejected above, so `affected` empty ⟺ the
    // batch has no rows (saves one Spark job per merge, which matters at
    // single-block live-tail triggers).
    if (affected.isEmpty)
      return if (exists) currentCounts(spark, path, partitionCol).values.sum
      else merge(spark, incoming, path, keys, seq, coalesceUpdates)
    val merged = {
      val filled = if (coalesceUpdates) backfillNulls(unioned, keys, seq) else unioned
      Relational.lwwDedup(filled, keys, seq.map(col))
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Per-affected-partition counts from the cached merge result — the
    // grouped count is over batch-sized data, never table history.
    val mergedPerPart: Map[String, Long] = merged
      .groupBy(col(partitionCol)).count().collect()
      .map(r => (s"$partitionCol=${r.get(0)}", r.getLong(1))).toMap

    val uid = TableSwap.newUid()
    writePartitionedTmp(spark, merged, TableSwap.tmpPath(path, uid),
      partitionCol, bucket, uid)
    merged.unpersist()

    // The new totals go down under this swap's uid BEFORE the partition
    // swap, the marker after it ([[TableSwap]], [[currentCounts]]).
    val newCounts = currentCounts(spark, path, partitionCol) ++ mergedPerPart
    writeCountsSidecar(path, newCounts, uid)
    appendDirty(path, mergedPerPart.keys)

    TableSwap.replaceDirs(path, uid, affected.map(v => s"$partitionCol=$v"))
    TableSwap.stamp(path, uid)
    newCounts.values.sum
  }

  /** Per-partition row counts live in `<table>.counts.json` NEXT TO the
    * table dir, so the full-table count callers want is a delta update +
    * sum, not a per-batch scan of all partition footers (which grows with
    * table history — exactly what the partition-scoped path exists to
    * avoid). They are valid when the sidecar's uid equals the marker's
    * (the two disagree while a swap is in flight, [[TableSwap]]; this
    * catches a crash even when the partition set stays the same) and the
    * sidecar's partition set matches the dirs on disk (legacy tables,
    * out-of-band edits). Otherwise the table is recounted grouped by
    * partition: one full scan to heal, never a steady-state cost. */
  private def currentCounts(spark: SparkSession, path: String,
      partitionCol: String): Map[String, Long] = {
    if (!io.exists(path)) return Map.empty
    val diskParts: Set[String] = io.listDir(path)
      .collect { case (n, true) if n.startsWith(partitionCol + "=") => n }
      .toSet
    if (diskParts.isEmpty) return Map.empty
    val markerUid = TableSwap.markerUid(path)
    val valid = readCountsSidecar(path).collect {
      case (counts, sidecarUid)
        if sidecarUid.nonEmpty && markerUid == sidecarUid &&
          counts.keySet == diskParts => counts
    }
    valid.getOrElse {
      // seed / heal: one grouped count over the whole table, persisted so
      // the scan doesn't repeat next batch
      val counted = spark.read.parquet(path).groupBy(col(partitionCol)).count()
        .collect().map(r => (s"$partitionCol=${r.get(0)}", r.getLong(1))).toMap
      val uid = TableSwap.newUid()
      writeCountsSidecar(path, counted, uid)
      TableSwap.stamp(path, uid)
      counted
    }
  }

  private[graft] def sidecarPath(path: String): String = path + ".counts.json"

  private[graft] def readCountsSidecar(
      path: String): Option[(Map[String, Long], String)] =
    io.readString(sidecarPath(path)).flatMap { txt =>
      scala.util.Try {
        val counts = "\"([^\"]+)\":\\s*(\\d+)".r.findAllMatchIn(txt)
          .map(m => (m.group(1), m.group(2).toLong)).toMap
        val uid = "\"__swap_uid\":\\s*\"([^\"]+)\"".r.findFirstMatchIn(txt)
          .map(_.group(1)).getOrElse("")
        (counts, uid)
      }.toOption
    }

  private[graft] def writeCountsSidecar(path: String, counts: Map[String, Long],
      uid: String): Unit = {
    // the uid value is quoted, so the numeric count regex never picks it up
    val json = (s""""__swap_uid":"$uid"""" +: counts.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }).mkString("{", ",", "}")
    io.writeStringAtomic(sidecarPath(path), json)
  }

  /** [[BucketedLayout.writeBucketed]] to `dir` (one file per bucket)
    * without keeping its catalog entry: bucketBy is a table-write-only
    * API, and dropping the EXTERNAL entry leaves the files. */
  private[graft] def writeBucketedDir(df: DataFrame, dir: String,
      bucketCol: String, buckets: Int, uid: String): Unit = {
    val table = s"graft_bucketed_$uid"
    BucketedLayout.writeBucketed(df, table, dir, bucketCol, buckets)
    df.sparkSession.sql(s"DROP TABLE IF EXISTS $table"): Unit
  }

  /** Write `df` under `tmp` partitioned by `partitionCol`, optionally in
    * bucketed layout through a temporary catalog entry, as
    * [[writeBucketedDir]] does, so each (partition, bucket) lands in one
    * file. */
  private def writePartitionedTmp(spark: SparkSession, df: DataFrame,
      tmp: String, partitionCol: String, bucket: Option[(String, Int)],
      uid: String): Unit = bucket match {
    case Some((bcol, n)) =>
      val tmpTable = s"graft_merge_pb_$uid"
      df.repartition(n, col(bcol))
        .write.format("parquet").option("path", tmp)
        .partitionBy(partitionCol).bucketBy(n, bcol).sortBy(bcol)
        .mode("overwrite").saveAsTable(tmpTable)
      spark.sql(s"DROP TABLE IF EXISTS $tmpTable"): Unit // external: files stay
    case None =>
      df.write.mode("overwrite").partitionBy(partitionCol).parquet(tmp)
  }

  /** Whether every partition directory under `path` holds only
    * bucket-id-named data files (`part-…_00003.…`) — i.e. the table is
    * uniformly in bucketed layout. Mixed naming (a partition-scoped
    * merge into a previously unbucketed table) must be rejected: a
    * bucketed reader over it would mis-assign rows to buckets. */
  def bucketedPartitionLayout(path: String): Boolean = {
    val dirs = io.listDir(path).collect {
      case (n, true) if n.contains("=") => n }
    dirs.nonEmpty && dirs.forall(d =>
      BucketedLayout.looksBucketed(s"$path/$d"))
  }

  private def hasRootDataFiles(path: String): Boolean =
    io.listDir(path).exists { case (n, isDir) =>
      !isDir && n.endsWith(".parquet") }

  private def hasPartitionDirs(path: String): Boolean =
    io.listDir(path).exists { case (n, isDir) => isDir && n.contains("=") }

  private def migrateToPartitioned(
      spark: SparkSession,
      incoming: DataFrame,
      path: String,
      keys: Seq[String],
      seq: Seq[String],
      partitionCol: String,
      coalesceUpdates: Boolean,
      bucket: Option[(String, Int)] = None): Long = {
    val unioned = spark.read.parquet(path)
      .unionByName(incoming, allowMissingColumns = true)
    val merged0 =
      if (coalesceUpdates) backfillNulls(unioned, keys, seq) else unioned
    val merged = Relational.lwwDedup(merged0, keys, seq.map(col))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = merged.count()
    // Empty merge (empty-bootstrap table + a batch whose extract gated to
    // zero rows): a partitionBy write of zero rows produces a dir with only
    // _SUCCESS, and swapping that over the live table makes every later
    // read fail with "unable to infer schema". Keep the flat schema-only
    // table instead; the first real batch will migrate it.
    if (n == 0) { merged.unpersist(); return 0L }
    val perPart: Map[String, Long] = merged
      .groupBy(col(partitionCol)).count().collect()
      .map(r => (s"$partitionCol=${r.get(0)}", r.getLong(1))).toMap
    val uid = TableSwap.newUid()
    writePartitionedTmp(spark, merged, TableSwap.tmpPath(path, uid),
      partitionCol, bucket, uid)
    merged.unpersist()
    writeCountsSidecar(path, perPart, uid)
    appendDirty(path, perPart.keys)
    TableSwap.replace(path, uid)
    TableSwap.stamp(path, uid)
    n
  }

  /** True when LWW-merging `incoming` into a table stored with
    * `tableSchema` would change the TYPE of a stored column (int
    * widening, decimal growth). Decided from the union-RESOLVED schema,
    * not a raw type comparison: a batch NARROWER than the table resolves
    * back to the table's own types and stays scoped-mergeable — only a
    * genuine widening (e.g. a store built before shard_index grew
    * int32→int64 meeting the int64 writers) answers true, and the caller
    * then takes the one-time full rewrite instead of a slice-scoped
    * write that would leave mixed physical types across the table's
    * files. Analysis-only: no Spark job runs. */
  private[graft] def widensTableTypes(spark: SparkSession,
      tableSchema: org.apache.spark.sql.types.StructType,
      incoming: DataFrame): Boolean = {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], tableSchema)
    val resolved = empty
      .unionByName(incoming.limit(0), allowMissingColumns = true).schema
    val stored = tableSchema.map(f => f.name -> f.dataType).toMap
    resolved.exists(f => stored.get(f.name).exists(_ != f.dataType))
  }

  /** One-time in-place upgrade for a FLAT table: stamp a constant into a
    * column legacy rows lack (e.g. quarantine rows written before `kind`
    * joined its keep-first key — all of them were action decodes). No-op
    * when the column already exists. */
  def backfillLiteralColumn(spark: SparkSession, path: String,
      name: String, default: org.apache.spark.sql.Column): Unit = {
    val cur = spark.read.parquet(path)
    if (!cur.columns.contains(name))
      writeAndSwap(cur.withColumn(name, default), path)
  }

  /** Per key ordered by seq: fill each row's nulls from the latest earlier
    * non-null value (partial-UPDATE semantics). */
  private def backfillNulls(df: DataFrame, keys: Seq[String], seq: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(seq.map(col(_).asc): _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val valueCols = df.columns.filterNot(c => keys.contains(c))
    valueCols.foldLeft(df) { (acc, c) =>
      acc.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
  }

  /** Append-only variant with ignore-conflicts semantics (reference
    * `bulk_create(ignore_conflicts=True)`, utils.py:97-99): keeps the
    * FIRST writer per key instead of the last. */
  def insertIgnoreConflicts(
      spark: SparkSession,
      incoming: DataFrame,
      path: String,
      keys: Seq[String],
      seq: Seq[String]): Long =
    mergeKeepFirst(spark, incoming, path, keys, seq)

  private def mergeKeepFirst(
      spark: SparkSession,
      incoming: DataFrame,
      path: String,
      keys: Seq[String],
      seq: Seq[String]): Long = {
    val existing: Option[DataFrame] =
      if (io.exists(path)) Some(spark.read.parquet(path)) else None
    val unioned = existing match {
      case Some(old) => old.unionByName(incoming, allowMissingColumns = true)
      case None => incoming
    }
    val merged = Relational.latestPerGroup(unioned, keys, seq.map(col(_).asc))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = merged.count()
    writeAndSwap(merged, path)
    merged.unpersist()
    n
  }
}
