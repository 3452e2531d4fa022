package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Keyed upsert over plain Parquet — the engine's equivalent of the
  * reference's `update_or_create` on natural keys (utils.py:978-982;
  * conditional unique constraints donations/models.py:188-200). No
  * lakehouse table format is available in this environment, so every
  * merge is one read–combine–write–swap pass ([[upsert]]; the additive
  * form stages that pass before committing it, [[applyAdditiveBucketed]]).
  *
  *  - Layout ([[Layout]]): how the table lies on disk — flat, bucketed on
  *    a column (one file per bucket), or `<col>=<value>` partition dirs,
  *    optionally bucketed inside. A sliced table's slices are its buckets
  *    or its partitions. A slice must be a pure, immutable function of the
  *    natural key's row (the reference's keys never change their
  *    partition-determining fields), so one key's versions share a slice.
  *  - Combine ([[Combine]]): how rows sharing a key fold. LWW keeps the
  *    greatest `seq` (ingest seq = block_height, shard_index,
  *    receipt_index, action_index — the reference's strictly sequential
  *    block processing, SURVEY §2.9) and, with null backfill, fills the
  *    winner's nulls from earlier versions (partial UPDATE semantics: a
  *    payout transfer carries only paid_at, the amount from the
  *    set-payouts row must survive). Keep-first keeps the first writer
  *    (`bulk_create(ignore_conflicts=True)`). Replace-rows lets a patched
  *    copy replace its row. Additive sums counter columns and drops keys
  *    whose live counter nets to ≤ 0. LWW and keep-first are
  *    replay-idempotent: identical (key, seq) rows fold to one.
  *  - Whole vs slice: a merge rewrites only the slices its batch touches
  *    when the table already lies in its layout on disk and the batch
  *    neither adds a column nor widens a stored type (either would leave
  *    files of two schemas, which a reader resolves from one arbitrary
  *    footer). Anything else — bootstrap, layout migration, schema change
  *    — rewrites the whole table once. Flat tables are always rewritten
  *    whole. A scoped merge's cost follows its batch, never the table.
  *  - Counting: the rows of each written slice come from the parquet
  *    footers of the files the write committed — no Spark job beyond the
  *    write, and exact under retried tasks (only committed files count).
  *    A sliced table keeps its per-slice totals in `<table>.counts.json`
  *    under the swap's uid, so a scoped merge's total is a delta update; a
  *    sidecar whose uid or slice set disagrees with the table is stale and
  *    is healed from the footers of every file ([[currentCounts]]).
  *  - Journaling: a merge into a journaled table appends the slices it
  *    rewrote to `<table>.dirty.d/` before the swap, for the gold beat's
  *    incremental refresh (SilverStore.journaled names those tables).
  *
  * Every layout mutation goes through the [[TableIO]] seam and the
  * [[TableSwap]] protocol, so the merge ports to HDFS / object stores by
  * swapping that implementation, not this logic.
  */
object MergeWriter {

  /** Filesystem backend. Local by default; tests and cluster deployments
    * substitute their own. Deliberately a plain var — the engine
    * constructs no DI graph, and merge call sites are all driver-side. */
  @volatile var io: TableIO = LocalTableIO

  /** How a table lies on disk. */
  sealed trait Layout
  object Layout {
    /** Plain parquet files in one directory. */
    case object Flat extends Layout
    /** One file per bucket of `col` (Spark's bucketed writer), so joins
      * on `col` plan without an exchange ([[BucketedLayout]]). */
    final case class Bucketed(col: String, n: Int) extends Layout
    /** `<col>=<value>` directories, each optionally bucketed. */
    final case class Partitioned(col: String,
        bucket: Option[(String, Int)] = None) extends Layout
  }

  /** How rows sharing a key fold into one. */
  sealed trait Combine
  object Combine {
    final case class Lww(seq: Seq[String], backfillNulls: Boolean = true)
        extends Combine
    final case class KeepFirst(seq: Seq[String]) extends Combine
    case object ReplaceRows extends Combine
    /** Sum `addCols` per key (cast back to the delta's declared types, so
      * the state schema never drifts: Spark widens decimal sums); drop a
      * key whose `liveCol` nets to ≤ 0. `distinctCol` is the column whose
      * distinct count [[AdditiveMergeStats]] reports. */
    final case class Additive(addCols: Seq[String], liveCol: String,
        distinctCol: String) extends Combine
  }

  /** Merge `incoming` into the table at `path` and return the table's row
    * count after the merge. `journal` appends the touched slices to the
    * table's dirty journal. */
  def upsert(
      spark: SparkSession,
      incoming: DataFrame,
      path: String,
      keys: Seq[String],
      layout: Layout,
      combine: Combine,
      journal: Boolean = false): Long =
    stage(spark, incoming, path, keys, layout, combine, journal) match {
      case Some(s) => commit(path, s); s.total
      case None => currentCounts(spark, path, layout).values.sum
    }

  /** Flat LWW merge; returns the merged row count. */
  def merge(spark: SparkSession, incoming: DataFrame, path: String,
      keys: Seq[String], seq: Seq[String],
      coalesceUpdates: Boolean = true): Long =
    upsert(spark, incoming, path, keys, Layout.Flat,
      Combine.Lww(seq, coalesceUpdates))

  /** LWW merge into a table bucketed on `bucketCol`: the dimensions the
    * query plane joins constantly (accounts, and the gold account_stats
    * bucketed the same way) pay their partitioning once per merge instead
    * of once per query. Readers re-declare the layout with
    * [[BucketedLayout.registerExternal]]. */
  def mergeBucketed(spark: SparkSession, incoming: DataFrame, path: String,
      keys: Seq[String], seq: Seq[String], bucketCol: String, buckets: Int,
      coalesceUpdates: Boolean = true): Long =
    upsert(spark, incoming, path, keys, Layout.Bucketed(bucketCol, buckets),
      Combine.Lww(seq, coalesceUpdates))

  /** LWW merge into a table partitioned on `partitionCol` — the 100 TB
    * path: a steady stream touching the last few hours rewrites a few
    * date partitions, not the table. */
  def mergePartitioned(spark: SparkSession, incoming: DataFrame, path: String,
      keys: Seq[String], seq: Seq[String], partitionCol: String,
      coalesceUpdates: Boolean = true,
      bucket: Option[(String, Int)] = None): Long =
    upsert(spark, incoming, path, keys, Layout.Partitioned(partitionCol, bucket),
      Combine.Lww(seq, coalesceUpdates))

  /** Replace whole rows by natural key: a row in `replacement` overwrites
    * the table row sharing its key; all other rows pass through unchanged.
    * For read-modify-write patches (the array-delta M2M updates) where the
    * replacement row was DERIVED from the current table row — an LWW merge
    * would make the outcome depend on a seq tie-break between a row and its
    * own patched copy. Flat-only: a partitioned target is refused loudly
    * rather than flattened with its counts sidecar stranded. */
  def replaceRows(spark: SparkSession, replacement: DataFrame, path: String,
      keys: Seq[String]): Long = {
    require(!hasPartitionDirs(path),
      s"replaceRows: $path has a partitioned layout; the flat rewrite " +
        "would flatten it and strand its counts sidecar (add the table to " +
        "a partition-aware patch path instead)")
    upsert(spark, replacement, path, keys, Layout.Flat, Combine.ReplaceRows)
  }

  /** Test seam: wraps the merged frame IMMEDIATELY below the write, so a
    * failure the wrapper injects lands in the write stage's own tasks
    * (post-shuffle, the stage that runs the file-commit protocol), not the
    * input scan. Identity in production; RetryReplaySpec installs a
    * first-attempt-fails wrapper keyed by table path to pin that a failed
    * write task's files never count. Takes the table path so a
    * concurrently-merging suite can never be wrapped by another suite's
    * injection. */
  @volatile private[graft] var preWriteWrap: (String, DataFrame) => DataFrame =
    (_, df) => df

  /** Write `df` to a tmp dir and swap it in whole ([[TableSwap]]). */
  private[operators] def writeAndSwap(df: DataFrame, path: String): Unit = {
    val uid = TableSwap.newUid()
    df.write.mode("overwrite").parquet(TableSwap.tmpPath(path, uid))
    TableSwap.replace(path, uid)
    TableSwap.stamp(path, uid)
  }

  // ------------------------------------------------------------------
  // The merge core: stage (read, combine, write a tmp copy, count) then
  // commit (sidecar, journal, swap, stamp).
  // ------------------------------------------------------------------

  /** How a staged tmp copy replaces the live table: whole, by bucket file
    * (the touched buckets' old files), or by partition dir. */
  private sealed trait Swap
  private case object Whole extends Swap
  private final case class Files(old: Seq[String]) extends Swap
  private final case class Dirs(names: Seq[String]) extends Swap

  /** A merge written to `TableSwap.tmpPath(path, uid)`, ready to commit.
    * `counts` is the table's per-slice totals after the commit (None for
    * a flat table, which keeps no sidecar). */
  private final case class Staged(uid: String, swap: Swap,
      counts: Option[Map[String, Long]], dirty: Set[String], total: Long,
      stats: AdditiveMergeStats)

  /** Read the slices the merge needs, combine, write the tmp copy and
    * count it. Mutates nothing under the live table, except to roll a
    * crashed whole-table swap of it forward first
    * ([[TableSwap.requireLive]]). None when the merge is scoped and the
    * batch touches no slice (an empty batch: the table stays as it is). */
  private def stage(spark: SparkSession, incoming: DataFrame, path: String,
      keys: Seq[String], layout: Layout, combine: Combine,
      journal: Boolean): Option[Staged] = {
    TableSwap.requireLive(path)
    val current =
      if (io.exists(path)) Some(spark.read.parquet(path)) else None
    val scoped = current.exists(cur => slicesOnly(spark, path, layout, cur, incoming))
    combine match {
      case Combine.Additive(addCols, liveCol, _) =>
        require(addCols.contains(liveCol), s"liveCol $liveCol not in addCols")
        require(incoming.columns.toSet == (keys ++ addCols).toSet,
          s"additive delta columns ${incoming.columns.toSeq} != ${keys ++ addCols}")
        current.filter(_ => scoped).foreach(cur =>
          require(cur.columns.toSet == incoming.columns.toSet,
            s"additive state at $path has columns ${cur.columns.toSeq}; " +
              s"delta carries ${incoming.columns.toSeq}"))
      case _ =>
    }
    // Partition values are validated on every partitioned merge; the
    // bucket span is only needed to scope one.
    val touched =
      if (scoped || layout.isInstanceOf[Layout.Partitioned]) touchedSlices(incoming, layout)
      else Set.empty[String]
    if (scoped && touched.isEmpty) return None

    val oldFiles = if (scoped) sliceFiles(path, layout, touched).values.flatten.toSeq
      else Nil
    val old: Option[DataFrame] = current.map { cur =>
      if (!scoped) cur
      else if (oldFiles.isEmpty) emptyFrame(spark, cur.schema)
      // Read through the TABLE's schema, so rewritten slices carry exactly
      // the untouched slices' column set; basePath recovers partition
      // values from the dir names.
      else spark.read.schema(cur.schema).option("basePath", path)
        .parquet(oldFiles.map(f => s"$path/$f"): _*)
    }
    val merged = combined(old, incoming, keys, combine)

    val uid = TableSwap.newUid()
    val tmp = TableSwap.tmpPath(path, uid)
    writeLayout(spark, preWriteWrap(path, merged), tmp, layout, uid)
    val written0 = footerCounts(spark, tmp, layout, slicesOn(tmp, layout))
    // A zero-row bucketed or partitioned write leaves no data file a
    // reader could infer a schema from: keep a flat schema-only table
    // instead (the next non-empty merge migrates it).
    val written =
      if (scoped || layout == Layout.Flat || written0.values.sum > 0L) written0
      else {
        io.deleteRecursively(tmp)
        emptyFrame(spark, merged.schema).write.parquet(tmp)
        Map.empty[String, Long]
      }
    // Every merged row hashes back into a touched slice when the slice is
    // key-determined (the layout contract); guard it anyway.
    require(!scoped || written.keySet.subsetOf(touched),
      s"scoped merge into $path leaked rows outside ${touched.toSeq.sorted}")

    // A touched slice can empty (an additive key netting to zero): its
    // stale total goes with it.
    val before = if (scoped) currentCounts(spark, path, layout) else Map.empty[String, Long]
    val counts = if (layout == Layout.Flat) None else Some(before -- touched ++ written)
    val stats = combine match {
      case Combine.Additive(_, _, distinctCol) =>
        additiveStats(spark, old.filter(_ => scoped), tmp, layout, written,
          merged.schema, distinctCol,
          rowsBefore = before.collect { case (s, n) if touched(s) => n }.sum)
      case _ => AdditiveMergeStats(0L, 0L, 0L, 0L)
    }
    val swap = layout match {
      case _ if !scoped => Whole
      case _: Layout.Partitioned => Dirs(touched.toSeq.sorted)
      case _ => Files(oldFiles)
    }
    Some(Staged(uid, swap, counts,
      if (!journal) Set.empty else if (scoped) touched else written.keySet,
      counts.getOrElse(written).values.sum, stats))
  }

  /** Sidecar, journal, swap, stamp — in that order: the new totals go down
    * under this swap's uid BEFORE the swap and the marker after it, so a
    * crash in between leaves a detectably stale sidecar; the journal entry
    * lands before the swap, so a crashed merge leaves its slices marked (a
    * consumer re-deriving an unchanged slice is a no-op delta; a missing
    * mark would leave gold stale forever). Every step is conditional on
    * what is still on disk, so re-running a commit converges. */
  private def commit(path: String, s: Staged): Unit = {
    s.counts.foreach { c =>
      if (c.nonEmpty) writeCountsSidecar(path, c, s.uid)
      else if (io.exists(sidecarPath(path))) io.deleteRecursively(sidecarPath(path))
    }
    appendDirty(path, s.dirty)
    s.swap match {
      case Whole => TableSwap.replace(path, s.uid)
      case Files(old) => TableSwap.replaceFiles(path, s.uid, old)
      case Dirs(names) => TableSwap.replaceDirs(path, s.uid, names)
    }
    TableSwap.stamp(path, s.uid)
  }

  /** Whether a merge into the existing table `cur` may rewrite only the
    * slices its batch touches (see the object doc). Refuses a plain merge
    * into a bucketed-partitioned table: a plain write would put
    * plain-named files into the touched partitions, silently flipping
    * bucketedPartitionLayout to false and degrading every later read to an
    * exchange-paying scan. The opposite direction (a first bucketed merge
    * into an unbucketed partitioned table) migrates the whole table. */
  private def slicesOnly(spark: SparkSession, path: String, layout: Layout,
      cur: DataFrame, incoming: DataFrame): Boolean = {
    val laidOut = layout match {
      case Layout.Flat => false
      case Layout.Bucketed(_, _) => BucketedLayout.looksBucketed(path)
      case Layout.Partitioned(_, bucket) =>
        require(!(bucket.isEmpty && bucketedPartitionLayout(path)),
          s"mergePartitioned: $path is bucketed-partitioned on disk but the " +
            "merge passed no bucket spec; a plain write would silently " +
            "degrade the table's bucketed layout (pass the table's bucket " +
            "spec, or migrate deliberately)")
        !hasRootDataFiles(path) && (bucket.isEmpty || bucketedPartitionLayout(path))
    }
    laidOut && incoming.columns.toSet.subsetOf(cur.columns.toSet) &&
      !widensTableTypes(spark, cur.schema, incoming)
  }

  /** The slices `incoming` lands in — driver-small by construction: the
    * bucket count, or the batch's partition span (dates, hash buckets),
    * never data volume. Partition dir names are rebuilt as
    * "<col>=<value>", so Hive-escaped and null values (which would
    * silently mismatch and lose data) are refused: format a plain string
    * first. */
  private def touchedSlices(incoming: DataFrame, layout: Layout): Set[String] =
    layout match {
      case Layout.Flat => Set("")
      case Layout.Bucketed(bucketCol, n) =>
        incoming.select(bucketIdExpr(bucketCol, n)).distinct().collect()
          .map(r => s"bucket=${r.getInt(0)}").toSet
      case Layout.Partitioned(pcol, _) =>
        val values = incoming.select(pcol).distinct().collect().map(_.get(0))
        require(values.length <= 10000,
          s"merge batch touches ${values.length} partitions; repartition the batch window")
        values.foreach { v =>
          require(v != null, s"$pcol: null partition values unsupported")
          require(v.toString.matches("[A-Za-z0-9._-]+"),
            s"$pcol value '$v' needs Hive escaping; format it as a plain string first")
        }
        values.map(v => s"$pcol=$v").toSet
    }

  private def combined(old: Option[DataFrame], incoming: DataFrame,
      keys: Seq[String], combine: Combine): DataFrame = {
    def unioned = old.fold(incoming)(_.unionByName(incoming, allowMissingColumns = true))
    combine match {
      case Combine.Lww(seq, backfill) =>
        Relational.lwwDedup(if (backfill) backfillNulls(unioned, keys, seq) else unioned,
          keys, seq.map(col))
      case Combine.KeepFirst(seq) =>
        Relational.latestPerGroup(unioned, keys, seq.map(col(_).asc))
      case Combine.ReplaceRows =>
        old.fold(incoming)(_.join(
          broadcast(incoming.select(keys.map(col): _*).distinct()), keys, "left_anti")
          .unionByName(incoming, allowMissingColumns = true))
      case Combine.Additive(addCols, liveCol, _) =>
        val declared = incoming.schema.fields.map(f => f.name -> f.dataType).toMap
        val sums = addCols.map(c => sum(col(c)).cast(declared(c)).as(c))
        unioned.groupBy(keys.map(col): _*).agg(sums.head, sums.tail: _*)
          .select((keys ++ addCols).map(col): _*) // pin column order = schema
          .filter(col(liveCol) > 0)
    }
  }

  private def writeLayout(spark: SparkSession, df: DataFrame, dir: String,
      layout: Layout, uid: String): Unit = layout match {
    case Layout.Flat => df.write.mode("overwrite").parquet(dir)
    case Layout.Bucketed(bucketCol, n) => writeBucketedDir(df, dir, bucketCol, n, uid)
    case Layout.Partitioned(pcol, None) =>
      df.write.mode("overwrite").partitionBy(pcol).parquet(dir)
    case Layout.Partitioned(pcol, Some((bcol, n))) =>
      // bucketBy is a table-write-only API: write through a temporary
      // catalog entry, as writeBucketedDir does, so each (partition,
      // bucket) lands in one file.
      val table = s"graft_merge_pb_$uid"
      df.repartition(n, col(bcol))
        .write.format("parquet").option("path", dir)
        .partitionBy(pcol).bucketBy(n, bcol).sortBy(bcol)
        .mode("overwrite").saveAsTable(table)
      spark.sql(s"DROP TABLE IF EXISTS $table"): Unit // external: files stay
  }

  private def emptyFrame(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  // ------------------------------------------------------------------
  // Slices and their row counts.
  // ------------------------------------------------------------------

  private def dataFiles(dir: String): Seq[String] =
    io.fileSizes(dir).map(_._1).filter(f =>
      f.endsWith(".parquet") && !f.startsWith(".") && !f.startsWith("_"))

  private def bucketSlice(file: String): Option[String] =
    bucketIdOfFile(file).map(b => s"bucket=$b")

  /** The slices of the table under `dir`: `bucket=<id>` per bucket file,
    * `<col>=<value>` per partition dir, "" for a flat table. */
  private def slicesOn(dir: String, layout: Layout): Set[String] = layout match {
    case Layout.Flat => Set("")
    case Layout.Bucketed(_, _) => dataFiles(dir).flatMap(bucketSlice).toSet
    case Layout.Partitioned(pcol, _) => io.listDir(dir)
      .collect { case (n, true) if n.startsWith(pcol + "=") => n }.toSet
  }

  /** The data files (relative to `dir`) of each of `slices`. */
  private def sliceFiles(dir: String, layout: Layout,
      slices: Set[String]): Map[String, Seq[String]] = layout match {
    case Layout.Flat => Map("" -> dataFiles(dir))
    case Layout.Bucketed(_, _) => dataFiles(dir)
      .flatMap(f => bucketSlice(f).filter(slices).map(_ -> f))
      .groupMap(_._1)(_._2)
    case Layout.Partitioned(_, _) =>
      slices.map(s => s -> dataFiles(s"$dir/$s").map(f => s"$s/$f")).toMap
  }

  /** Rows per slice, from the parquet footers of the slice's files — the
    * one way a merge counts rows. Runs no Spark job. */
  private def footerCounts(spark: SparkSession, dir: String, layout: Layout,
      slices: Set[String]): Map[String, Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def rows(file: String): Long = {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"$dir/$file"), conf))
      try reader.getRecordCount finally reader.close()
    }
    sliceFiles(dir, layout, slices).map { case (s, fs) => s -> fs.map(rows).sum }
  }

  /** Per-slice row counts of a sliced table, from the counts sidecar when
    * it is valid — its uid equals the swap marker's (the two disagree
    * while a swap is in flight, [[TableSwap]], which catches a crash even
    * when the slice set stays the same) and its slice set matches the
    * table on disk (legacy tables, out-of-band edits). Otherwise healed
    * from the footers of every file and re-stamped: a seed cost, never
    * steady state. */
  private def currentCounts(spark: SparkSession, path: String,
      layout: Layout): Map[String, Long] = {
    val onDisk =
      if (layout == Layout.Flat || !io.exists(path)) Set.empty[String]
      else slicesOn(path, layout)
    if (onDisk.isEmpty) return Map.empty
    val markerUid = TableSwap.markerUid(path)
    readCountsSidecar(path).collect {
      case (counts, sidecarUid)
        if sidecarUid.nonEmpty && markerUid == sidecarUid &&
          counts.keySet == onDisk => counts
    }.getOrElse {
      val counted = footerCounts(spark, path, layout, onDisk)
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

  // ------------------------------------------------------------------
  // Additive merges: staged, then committed.
  // ------------------------------------------------------------------

  /** What an additive merge observed INSIDE the touched buckets: row and
    * distinct-key counts before/after the merge. Incremental consumers
    * turn these into exact global-counter deltas (e.g. distinct donors
    * after = before + (distinctAfter − distinctBefore)) without ever
    * scanning the untouched buckets. A whole-table (bootstrap) merge
    * reports zero before. */
  case class AdditiveMergeStats(
      rowsBefore: Long,
      rowsAfter: Long,
      distinctBefore: Long,
      distinctAfter: Long)

  /** The distinct-key half of [[AdditiveMergeStats]] needs one aggregate
    * job of its own (a distinct count cannot ride the write's metrics); it
    * reads the key column of the old slice files and of the files just
    * written. */
  private def additiveStats(spark: SparkSession, old: Option[DataFrame],
      tmp: String, layout: Layout, written: Map[String, Long],
      schema: org.apache.spark.sql.types.StructType, distinctCol: String,
      rowsBefore: Long): AdditiveMergeStats = {
    val files = sliceFiles(tmp, layout, written.keySet).values.flatten.toSeq
    val after =
      if (files.isEmpty) emptyFrame(spark, schema)
      else spark.read.schema(schema).parquet(files.map(f => s"$tmp/$f"): _*)
    def side(df: DataFrame, s: Int) =
      df.select(col(distinctCol).as("__k"), lit(s).as("__s"))
    val r = old.fold(side(after, 1))(o => side(o, 0).unionByName(side(after, 1)))
      .agg(countDistinct(when(col("__s") === 0, col("__k"))),
        countDistinct(when(col("__s") === 1, col("__k"))))
      .head()
    AdditiveMergeStats(rowsBefore, written.values.sum, r.getLong(0), r.getLong(1))
  }

  /** ADDITIVE bucket-scoped merge — the standing-state maintenance
    * primitive for incremental view maintenance (gold refresh): rows
    * sharing `keys` are combined by SUMMING `addCols` (mergeable-monoid
    * state, the q_inc1 discipline made durable), and a row whose
    * `liveCol` nets to ≤ 0 is dropped (its key has no surviving facts).
    * Unlike the LWW merges, deltas may carry NEGATIVE contributions —
    * the Δ⁻ of a rewritten fact partition — so state absorbs updates,
    * not just appends. The delta's columns must be exactly the table's
    * (keys ++ addCols). Decimal/long addition is associative and
    * commutative, so any arrival order yields bit-identical state. */
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
      token: String): AdditiveMergeStats = {
    require(keys.contains(bucketCol), s"bucketCol $bucketCol not in keys")
    val manifest = applyManifestPath(path, token)
    val staged = io.readString(manifest).map(parseStaged).orElse {
      // Recover before the sweep: a crashed whole-table swap's tmp is its
      // only complete payload.
      TableSwap.requireLive(path)
      sweepStrandedAdditiveTmp(path)
      val s = stage(spark, delta, path, keys, Layout.Bucketed(bucketCol, buckets),
        Combine.Additive(addCols, liveCol, distinctCol), journal = false)
      // The atomic manifest write is the staging commit point
      // (manifest present ⇒ tmp complete).
      s.foreach(s => io.writeStringAtomic(manifest, renderStaged(path, s)))
      s
    }
    staged.foreach(commit(path, _))
    staged.fold(AdditiveMergeStats(0L, 0L, 0L, 0L))(_.stats)
  }

  private[graft] def applyManifestPath(path: String, token: String): String =
    s"$path.apply-$token"

  def clearApplyManifest(path: String, token: String): Unit = {
    val mf = applyManifestPath(path, token)
    if (io.exists(mf)) io.deleteRecursively(mf)
  }

  private def renderStaged(path: String, s: Staged): String = Seq(
    s"mode=${if (s.swap == Whole) "bootstrap" else "scoped"}", s"uid=${s.uid}",
    s"tmp=${TableSwap.tmpPath(path, s.uid)}",
    s"old=${(s.swap match { case Files(old) => old; case _ => Nil }).mkString(";")}",
    s"counts=${s.counts.getOrElse(Map.empty).toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k:$v" }.mkString(";")}",
    s"stats=${s.stats.rowsBefore}|${s.stats.rowsAfter}|${s.stats.distinctBefore}|${s.stats.distinctAfter}")
    .mkString("\n")

  private def parseStaged(txt: String): Staged = {
    val kv = txt.split('\n').map { l =>
      val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap
    val Array(a, b, c, d) = kv("stats").split('|')
    val counts = kv("counts").split(';').filter(_.nonEmpty).map { s =>
      val i = s.lastIndexOf(':'); s.take(i) -> s.drop(i + 1).toLong }.toMap
    Staged(kv("uid"),
      if (kv("mode") == "bootstrap") Whole
      else Files(kv("old").split(';').filter(_.nonEmpty).toSeq),
      Some(counts), Set.empty, counts.values.sum,
      AdditiveMergeStats(a.toLong, b.toLong, c.toLong, d.toLong))
  }

  /** Delete sibling `<path>.tmp-*` dirs not named by any live
    * `<path>.apply-*` manifest's `tmp=` entry — staging stranded by a
    * crash before the manifest write, which nothing else would reclaim
    * short of a full rebuild. Safe at the start of a stage: the caller
    * protocol is single-writer per table, so no concurrent stage's tmp
    * can be in flight. */
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

  // ------------------------------------------------------------------
  // Dirty-set journal: a merge into a journaled table records WHICH
  // slices it touched as one append-only entry file under
  // `<table>.dirty.d/` (newline-separated slice names, unique file per
  // batch, atomic write). Incremental consumers (GoldRefresh) snapshot
  // the entry FILES, union their names, re-derive only those slices, and
  // delete exactly the files they snapshotted — so an ingest batch
  // landing between the consumer's snapshot and its commit is never lost
  // (a shared read-modify-write file would drop it). The journal is
  // bounded by batch count between refreshes × touched-slice names.
  // ------------------------------------------------------------------
  private[graft] def dirtyDir(path: String): String = path + ".dirty.d"

  /** The consumer's view: the names marked dirty plus the entry files
    * carrying them (the consumption handles). */
  final case class DirtySnapshot(files: Set[String], names: Set[String]) {
    def nonEmpty: Boolean = names.nonEmpty
  }

  private[operators] def appendDirty(path: String, names: Iterable[String]): Unit = {
    if (names.isEmpty) return
    val dd = dirtyDir(path)
    io.createDirectories(dd)
    io.writeStringAtomic(
      s"$dd/append-${java.util.UUID.randomUUID().toString.take(8)}",
      names.toSeq.distinct.sorted.mkString("\n"))
    // Writer-side compaction bounds a journal whose consumer falls behind:
    // above the threshold, fold every entry into one fresh file, then
    // delete the folded ones. Safe against a concurrent consumer: the fold
    // lands BEFORE the deletes, so a consumer that snapshotted the old
    // files deletes already-gone files (no-op) while the fold file still
    // carries their names — over-marking re-derives a no-op delta;
    // under-marking is impossible. Names are bounded by the table's slice
    // count, so the folded file stays small.
    val entries = listEntries(dd)
    if (entries.size > 64) {
      val union = entries.flatMap(f => readEntry(dd, f)).toSet
      io.writeStringAtomic(
        s"$dd/append-${java.util.UUID.randomUUID().toString.take(8)}",
        union.toSeq.sorted.mkString("\n"))
      entries.foreach(f => io.deleteRecursively(s"$dd/$f"))
    }
  }

  /** Journal entry-file enumeration + parse, shared by the compactor and
    * the consumer snapshot so they can never fold/consume different
    * name sets. */
  private def listEntries(dd: String): Seq[String] =
    if (io.exists(dd))
      io.listDir(dd).collect { case (n, false) if n.startsWith("append-") => n }
    else Seq.empty

  private def readEntry(dd: String, f: String): Set[String] =
    io.readString(s"$dd/$f")
      .map(_.split('\n').map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

  def snapshotDirty(path: String): DirtySnapshot = {
    val dd = dirtyDir(path)
    val entries = listEntries(dd)
    DirtySnapshot(entries.toSet, entries.flatMap(f => readEntry(dd, f)).toSet)
  }

  def readDirty(path: String): Set[String] = snapshotDirty(path).names

  /** Delete exactly the entry files a [[snapshotDirty]] returned — the
    * consumer's commit. Entries appended AFTER the snapshot are untouched
    * files and survive for the next cycle; deleting an already-deleted
    * entry is a no-op, so a crash-resumed consumer can re-commit. */
  def consumeDirty(path: String, snapshot: DirtySnapshot): Unit =
    snapshot.files.foreach { f =>
      val p = s"${dirtyDir(path)}/$f"
      if (io.exists(p)) io.deleteRecursively(p)
    }

  // ------------------------------------------------------------------
  // Layout helpers.
  // ------------------------------------------------------------------

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

  /** [[BucketedLayout.writeBucketed]] to `dir` (one file per bucket)
    * without keeping its catalog entry: bucketBy is a table-write-only
    * API, and dropping the EXTERNAL entry leaves the files. */
  private[graft] def writeBucketedDir(df: DataFrame, dir: String,
      bucketCol: String, buckets: Int, uid: String): Unit = {
    val table = s"graft_bucketed_$uid"
    BucketedLayout.writeBucketed(df, table, dir, bucketCol, buckets)
    df.sparkSession.sql(s"DROP TABLE IF EXISTS $table"): Unit
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
    val resolved = emptyFrame(spark, tableSchema)
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
}
