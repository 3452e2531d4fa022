package graft.operators

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Partition-scoped merge: only partitions present in the batch are
  * rewritten; untouched partition files stay byte-identical; semantics
  * match the whole-table merge. */
class MergeWriterSpec extends SparkSpec {
  import spark.implicits._

  test("mergePartitioned rewrites only affected partitions, LWW + backfill hold") {
    val path = tmpDir("pmerge") + "/donations"

    val b1 = Seq(
      ("k1", "2024-06-01", 1L, "v1", "x"),
      ("k2", "2024-06-01", 1L, "v2", null.asInstanceOf[String]),
      ("k3", "2024-06-02", 1L, "v3", "z")
    ).toDF("key", "day", "seqno", "value", "extra")
    MergeWriter.mergePartitioned(spark, b1, path, Seq("key"), Seq("seqno"), "day")

    val day2FilesBefore = Files.list(Paths.get(path, "day=2024-06-02"))
      .toArray.map(_.toString).sorted.toSeq

    // Batch 2 touches only day=2024-06-01: k1 updated (null extra must
    // backfill from v1's "x"), k4 new.
    val b2 = Seq(
      ("k1", "2024-06-01", 2L, "v1b", null.asInstanceOf[String]),
      ("k4", "2024-06-01", 1L, "v4", "w")
    ).toDF("key", "day", "seqno", "value", "extra")
    MergeWriter.mergePartitioned(spark, b2, path, Seq("key"), Seq("seqno"), "day")

    val out = spark.read.parquet(path)
    assert(out.count() == 4)
    val k1 = out.filter(col("key") === "k1").head()
    assert(k1.getAs[String]("value") == "v1b")
    assert(k1.getAs[String]("extra") == "x") // backfilled across versions

    // day=2024-06-02 untouched: same files on disk.
    val day2FilesAfter = Files.list(Paths.get(path, "day=2024-06-02"))
      .toArray.map(_.toString).sorted.toSeq
    assert(day2FilesAfter == day2FilesBefore)

    // Replay idempotence holds for the partitioned path too.
    val n = MergeWriter.mergePartitioned(spark, b2, path, Seq("key"), Seq("seqno"), "day")
    assert(n == 4)
  }

  test("flat table migrates wholesale to partitioned layout on first scoped merge") {
    val path = tmpDir("pmig") + "/t"
    // Legacy flat layout (or the empty-batch bootstrap): plain merge.
    val flat = Seq(
      ("k1", "2024-06-01", 1L, "v1"),
      ("k2", "2024-06-02", 1L, "v2")
    ).toDF("key", "day", "seqno", "value")
    MergeWriter.merge(spark, flat, path, Seq("key"), Seq("seqno"))
    assert(Files.list(Paths.get(path)).toArray.map(_.toString)
      .exists(_.endsWith(".parquet"))) // root data files = flat layout

    // First partition-scoped merge migrates everything — including rows in
    // partitions the batch does NOT touch — and dedups as usual.
    val b = Seq(("k1", "2024-06-01", 2L, "v1b")).toDF("key", "day", "seqno", "value")
    val n = MergeWriter.mergePartitioned(spark, b, path, Seq("key"), Seq("seqno"), "day")
    assert(n == 2)
    val out = spark.read.parquet(path)
    assert(out.filter(col("key") === "k1").head().getAs[String]("value") == "v1b")
    assert(out.filter(col("key") === "k2").count() == 1) // untouched day survived
    // Layout is now partitioned: no root data files, per-day dirs present.
    val entries = Files.list(Paths.get(path)).toArray.map(_.toString)
    assert(!entries.exists(_.endsWith(".parquet")))
    assert(entries.exists(_.contains("day=2024-06-02")))
  }

  test("all layout mutations flow through the TableIO seam") {
    // A counting delegate substituted for the default backend: the merge
    // must be green through the seam AND actually exercise it.
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    object CountingIO extends TableIO {
      private def t[A](a: A): A = { calls.incrementAndGet(); a }
      def exists(p: String) = t(LocalTableIO.exists(p))
      def listDir(p: String) = t(LocalTableIO.listDir(p))
      def atomicMove(s: String, d: String) = t(LocalTableIO.atomicMove(s, d))
      def createDirectories(p: String) = t(LocalTableIO.createDirectories(p))
      def deleteRecursively(p: String) = t(LocalTableIO.deleteRecursively(p))
      def readString(p: String) = t(LocalTableIO.readString(p))
      def writeStringAtomic(p: String, c: String) = t(LocalTableIO.writeStringAtomic(p, c))
      def fileSizes(p: String) = t(LocalTableIO.fileSizes(p))
      def lastModifiedMs(p: String) = t(LocalTableIO.lastModifiedMs(p))
    }
    val prev = MergeWriter.io
    try {
      MergeWriter.io = CountingIO
      val path = tmpDir("seam") + "/t"
      val b = Seq(("k1", "2024-06-01", 1L, "v1")).toDF("key", "day", "seqno", "value")
      MergeWriter.mergePartitioned(spark, b, path, Seq("key"), Seq("seqno"), "day")
      val b2 = Seq(("k1", "2024-06-01", 2L, "v2")).toDF("key", "day", "seqno", "value")
      val n = MergeWriter.mergePartitioned(spark, b2, path, Seq("key"), Seq("seqno"), "day")
      assert(n == 1)
      assert(spark.read.parquet(path).head().getAs[String]("value") == "v2")
      assert(calls.get() > 0)
    } finally MergeWriter.io = prev
  }

  test("sidecar crash window heals: swap without marker update forces a recount") {
    val path = tmpDir("pheal") + "/t"
    val b1 = Seq(
      ("k1", "2024-06-01", 1L, "v1"),
      ("k2", "2024-06-01", 1L, "v2")
    ).toDF("key", "day", "seqno", "value")
    MergeWriter.mergePartitioned(spark, b1, path, Seq("key"), Seq("seqno"), "day")

    // Simulate the crash-between-swap-and-marker window on a batch that
    // touched ONLY pre-existing partitions: falsify the sidecar counts
    // (the partition-name SET still matches disk, so a set-only validity
    // check would happily trust the stale numbers) and leave the marker at
    // a different uid, as an interrupted swap does.
    val sidecar = Paths.get(path + ".counts.json")
    val txt = new String(Files.readAllBytes(sidecar), "UTF-8")
      .replaceAll("\"day=2024-06-01\":\\d+", "\"day=2024-06-01\":999")
    Files.write(sidecar, txt.getBytes("UTF-8"))
    Files.write(Paths.get(path + ".swapuid"), "stale-uid".getBytes("UTF-8"))

    // An empty batch reports the total from the sidecar — the uid mismatch
    // must force a recount instead of returning 999.
    val empty = Seq.empty[(String, String, Long, String)]
      .toDF("key", "day", "seqno", "value")
    assert(MergeWriter.mergePartitioned(spark, empty, path,
      Seq("key"), Seq("seqno"), "day") == 2)
    // …and the heal is persisted: sidecar + marker agree again.
    val healed = new String(Files.readAllBytes(sidecar), "UTF-8")
    assert(healed.contains("\"day=2024-06-01\":2"))
    val markerUid = new String(Files.readAllBytes(Paths.get(path + ".swapuid")), "UTF-8")
    assert(healed.contains(s""""__swap_uid":"$markerUid""""))
  }

  test("a merge after a crashed whole-table swap keeps the table's rows") {
    // A whole-table swap that died between moving the live table aside
    // and moving its tmp copy in leaves the live dir missing. The next
    // merge must roll that swap forward, not take the table for a new one
    // and rebuild it from its own batch (vacuum would then delete the
    // aside that still held the old rows).
    val path = tmpDir("crashed-swap") + "/t"
    val b1 = Seq(("k1", 1L, "v1"), ("k2", 1L, "v2")).toDF("key", "seqno", "value")
    MergeWriter.merge(spark, b1, path, Seq("key"), Seq("seqno"))
    // SwapRecoveryRaceSpec.mkCrashedState's shape with real payloads: the
    // live table moved aside, its successor complete under the same uid.
    val uid = "crash1"
    spark.read.parquet(path).write.parquet(TableSwap.tmpPath(path, uid))
    MergeWriter.io.atomicMove(path, s"$path.old-$uid")
    val b2 = Seq(("k3", 1L, "v3")).toDF("key", "seqno", "value")
    assert(MergeWriter.merge(spark, b2, path, Seq("key"), Seq("seqno")) == 3)
    assert(spark.read.parquet(path).select("key").as[String].collect().sorted
      .toSeq == Seq("k1", "k2", "k3"))
    assert(!Files.exists(Paths.get(s"$path.old-$uid")))
    assert(!Files.exists(Paths.get(TableSwap.tmpPath(path, uid))))
    // No complete payload to roll forward: the merge refuses rather than
    // write over the only copy of the rows.
    MergeWriter.io.atomicMove(path, s"$path.old-crash2")
    intercept[IllegalStateException](
      MergeWriter.merge(spark, b2, path, Seq("key"), Seq("seqno")))
    assert(!Files.exists(Paths.get(path)))
    assert(Files.exists(Paths.get(s"$path.old-crash2")))
  }

  test("a plain merge into a bucketed-partitioned table is refused (layout-mix guard, both directions)") {
    val path = tmpDir("pbmix") + "/t"
    val b = Seq(("k1", "2024-06-01", 1L, "v1")).toDF("key", "day", "seqno", "value")
    MergeWriter.mergePartitioned(spark, b, path, Seq("key"), Seq("seqno"),
      "day", bucket = Some(("key", 4)))
    assert(MergeWriter.bucketedPartitionLayout(path))
    // bucket=None into the bucketed table: without the guard this would
    // silently write plain-named files into day=2024-06-01 and flip
    // bucketedPartitionLayout to false for every later read.
    val b2 = Seq(("k1", "2024-06-01", 2L, "v2")).toDF("key", "day", "seqno", "value")
    val e = intercept[IllegalArgumentException] {
      MergeWriter.mergePartitioned(spark, b2, path, Seq("key"), Seq("seqno"), "day")
    }
    assert(e.getMessage.contains("bucketed-partitioned"))
    assert(MergeWriter.bucketedPartitionLayout(path)) // layout untouched
    // The matching spec still merges fine.
    val n = MergeWriter.mergePartitioned(spark, b2, path, Seq("key"),
      Seq("seqno"), "day", bucket = Some(("key", 4)))
    assert(n == 1)
    assert(spark.read.parquet(path).head().getAs[String]("value") == "v2")
  }

  test("replaceRows refuses a partition-laid-out target (flat-only contract)") {
    val path = tmpDir("pflat") + "/t"
    val b = Seq(("k1", "2024-06-01", 1L, "v1")).toDF("key", "day", "seqno", "value")
    MergeWriter.mergePartitioned(spark, b, path, Seq("key"), Seq("seqno"), "day")
    val repl = Seq(("k1", "2024-06-01", 2L, "v2")).toDF("key", "day", "seqno", "value")
    val e = intercept[IllegalArgumentException] {
      MergeWriter.replaceRows(spark, repl, path, Seq("key"))
    }
    assert(e.getMessage.contains("partitioned layout"))
  }

  test("schema evolves across merges: new column null-backfills, updates never erase it") {
    // The ingest plane's 30 handlers evolve independently; the store
    // must absorb a batch that ADDS a column (old rows read null), a
    // batch that OMITS it (rows keep nulls), and — the LWW subtlety —
    // an UPDATE to a row that does not carry the column must not erase
    // the value an earlier version wrote (backfillNulls' contract).
    val path = tmpDir("evo") + "/t"
    MergeWriter.merge(spark, Seq(("k1", 1L, "a")).toDF("key", "seqno", "v"),
      path, Seq("key"), Seq("seqno"))

    // b2 introduces `extra`.
    MergeWriter.merge(spark,
      Seq(("k2", 1L, "b", 42L)).toDF("key", "seqno", "v", "extra"),
      path, Seq("key"), Seq("seqno"))
    val afterAdd = spark.read.parquet(path)
    assert(afterAdd.columns.toSet == Set("key", "seqno", "v", "extra"))
    assert(afterAdd.filter(col("key") === "k1").head().isNullAt(
      afterAdd.columns.indexOf("extra")))

    // b3 omits it again; b4 UPDATES k2 without carrying it.
    MergeWriter.merge(spark, Seq(("k3", 1L, "c")).toDF("key", "seqno", "v"),
      path, Seq("key"), Seq("seqno"))
    MergeWriter.merge(spark, Seq(("k2", 2L, "b2")).toDF("key", "seqno", "v"),
      path, Seq("key"), Seq("seqno"))
    val out = spark.read.parquet(path)
      .select("key", "seqno", "v", "extra").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getString(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    assert(out == Map(
      "k1" -> ((1L, "a", None)),
      "k2" -> ((2L, "b2", Some(42L))), // update won, extra backfilled
      "k3" -> ((1L, "c", None))))

    // Same contract through the bucketed writer (the accounts layout).
    val bpath = tmpDir("evob") + "/t"
    MergeWriter.mergeBucketed(spark,
      Seq(("k1", 1L, "a")).toDF("key", "seqno", "v"),
      bpath, Seq("key"), Seq("seqno"), "key", 4)
    MergeWriter.mergeBucketed(spark,
      Seq(("k1", 2L, "a2", 7L)).toDF("key", "seqno", "v", "extra"),
      bpath, Seq("key"), Seq("seqno"), "key", 4)
    val brow = spark.read.parquet(bpath)
      .select("key", "seqno", "v", "extra").head()
    assert((brow.getString(0), brow.getLong(1), brow.getString(2),
      brow.getLong(3)) == (("k1", 2L, "a2", 7L)))
  }

  test("bucket-scoped merge rewrites only the batch's buckets (accounts discipline)") {
    val path = tmpDir("bscope") + "/t"
    val seed = (1 to 200).map(i => (s"k$i", 1L, s"v$i"))
      .toDF("key", "seqno", "v")
    MergeWriter.mergeBucketed(spark, seed, path,
      Seq("key"), Seq("seqno"), "key", 8)
    def files(): Set[String] = MergeWriter.io.fileSizes(path).map(_._1)
      .filter(_.startsWith("part-")).toSet
    def bid(f: String): Int =
      "_(\\d{5})\\.".r.findFirstMatchIn(f).get.group(1).toInt
    val before = files()
    assert(before.map(bid).size == before.size, "one file per bucket")

    // An update + an insert; the batch's bucket span via the SAME hash
    // the writer uses.
    val batch = Seq(("k5", 2L, "v5b"), ("k900", 1L, "new"))
      .toDF("key", "seqno", "v")
    val touched = batch.select(pmod(hash(col("key")), lit(8)))
      .distinct().collect().map(_.getInt(0)).toSet
    val n = MergeWriter.mergeBucketed(spark, batch, path,
      Seq("key"), Seq("seqno"), "key", 8)
    assert(n == 201)
    val after = files()
    // Untouched buckets keep their exact files (names are write-unique,
    // so identical names prove the files were never rewritten).
    assert(before.filterNot(f => touched.contains(bid(f))) ==
      after.filterNot(f => touched.contains(bid(f))))
    // Touched buckets were replaced; one file per bucket still holds.
    assert(after.groupBy(bid).forall(_._2.size == 1))
    assert(before.filter(f => touched.contains(bid(f)))
      .intersect(after) == Set.empty)

    // The writer's file naming and pmod(hash) agree row by row — the
    // Murmur3(42) equivalence the scoped read relies on.
    val schema = spark.read.parquet(path).schema
    after.foreach { f =>
      val bad = spark.read.schema(schema).parquet(s"$path/$f")
        .filter(pmod(hash(col("key")), lit(8)) =!= bid(f)).count()
      assert(bad == 0L, s"$f holds rows of a different bucket")
    }

    // LWW semantics through the scoped path, incl. null-backfill: an
    // update that does not carry `v` must not erase it.
    val up = Seq(("k5", 3L, Option.empty[String])).toDF("key", "seqno", "v")
    MergeWriter.mergeBucketed(spark, up, path,
      Seq("key"), Seq("seqno"), "key", 8)
    val out = spark.read.parquet(path)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getString(2)))).toMap
    assert(out("k5") == ((3L, "v5b")))
    assert(out("k900") == ((1L, "new")))
    assert(out("k7") == ((1L, "v7")))
    assert(out.size == 201)
  }

  test("bucket counts sidecar crash window heals by recount") {
    val path = tmpDir("bheal") + "/t"
    MergeWriter.mergeBucketed(spark,
      (1 to 50).map(i => (s"k$i", 1L, s"v$i")).toDF("key", "seqno", "v"),
      path, Seq("key"), Seq("seqno"), "key", 4)
    // Simulate a crash between the sidecar write and the marker write:
    // the uids disagree, so the sidecar must NOT be trusted.
    Files.writeString(Paths.get(path + ".swapuid"), "deadbeef")
    val empty = spark.emptyDataset[(String, Long, String)]
      .toDF("key", "seqno", "v")
    // An empty scoped merge reports the current total — which now has to
    // come from a recount, not the stale sidecar.
    val n = MergeWriter.mergeBucketed(spark, empty, path,
      Seq("key"), Seq("seqno"), "key", 4)
    assert(n == 50L)
    // The heal re-seeded the sidecar: a second empty merge trusts it.
    val n2 = MergeWriter.mergeBucketed(spark, empty, path,
      Seq("key"), Seq("seqno"), "key", 4)
    assert(n2 == 50L)
  }

  test("day predicates prune partitions at the scan (PartitionFilters)") {
    val path = tmpDir("pprune") + "/facts"
    val b = (1 to 300).map(i =>
      (s"k$i", f"2024-06-${i % 3 + 1}%02d", 1L, s"v$i"))
      .toDF("key", "day", "seqno", "value")
    MergeWriter.mergePartitioned(spark, b, path, Seq("key"), Seq("seqno"), "day")

    val q = spark.read.parquet(path).filter(col("day") === "2024-06-02")
    val scan = q.queryExecution.executedPlan.toString
    // The day predicate must land in PartitionFilters — directory-level
    // pruning, the mechanism that keeps a date-range query from reading
    // 100 TB of history — and must NOT survive as a post-scan Filter
    // (which would mean every file was opened and rows discarded late).
    assert("PartitionFilters: \\[[^\\]]*day".r.findFirstIn(scan).isDefined, scan)
    assert(q.count() == 100)
    // Only the matching partition's files are planned for read.
    val read = q.queryExecution.executedPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.toPartitionArray.toSeq.map(_.filePath.toString) }
      .flatten
    assert(read.nonEmpty && read.forall(_.contains("day=2024-06-02")), read)
  }

  // ------------------------------------------------------------------
  // Append-only dirty journal: entry-file lifecycle, writer-side
  // compaction bound, and the snapshot/consume concurrency contract.
  // ------------------------------------------------------------------

  test("dirty journal: append-only entries, bounded by compaction, names never lost") {
    val table = tmpDir("dirtyj") + "/t"
    def entryCount: Int = Option(
        new java.io.File(MergeWriter.dirtyDir(table)).listFiles())
      .map(_.count(_.getName.startsWith("append-"))).getOrElse(0)

    // 70 appends: compaction (threshold 64) must have folded at least
    // once; the UNION of names survives exactly.
    (1 to 70).foreach(i => MergeWriter.appendDirty(table, Seq(s"p=$i")))
    assert(entryCount <= 65, s"compaction did not bound entries: $entryCount")
    assert(MergeWriter.readDirty(table) == (1 to 70).map(i => s"p=$i").toSet)

    // Consumer snapshot taken BEFORE more appends: consuming it removes
    // only what it saw — names appended after the snapshot survive.
    val snap = MergeWriter.snapshotDirty(table)
    MergeWriter.appendDirty(table, Seq("p=NEW"))
    MergeWriter.consumeDirty(table, snap)
    assert(MergeWriter.readDirty(table) == Set("p=NEW"))

    // A crash-resumed consumer re-commits the same snapshot: deleting
    // already-deleted entries is a no-op, nothing else is touched.
    MergeWriter.consumeDirty(table, snap)
    assert(MergeWriter.readDirty(table) == Set("p=NEW"))
  }

  test("dirty journal: snapshot taken before compaction stays safe to consume") {
    val table = tmpDir("dirtyj2") + "/t"
    (1 to 64).foreach(i => MergeWriter.appendDirty(table, Seq(s"p=$i")))
    val snap = MergeWriter.snapshotDirty(table) // 64 entry files
    // The 65th append trips compaction: it folds every existing entry
    // into one fresh file and deletes the originals — including files
    // the snapshot holds. Consuming the stale snapshot deletes nothing
    // that still exists, and the fold file keeps the union: names are
    // OVER-marked (benign re-derive), never lost.
    MergeWriter.appendDirty(table, Seq("p=65"))
    MergeWriter.consumeDirty(table, snap)
    val after = MergeWriter.readDirty(table)
    assert(after.contains("p=65"))
    assert((1 to 64).map(i => s"p=$i").toSet.subsetOf(after),
      s"compacted names lost: ${after.size}")
  }

  /** (jobs, SQL actions) that `body` starts on this thread. Listener
    * events arrive asynchronously, so a marker job runs after `body` and
    * the tally is read once the listener has seen it. AQE submits each
    * shuffle map stage as a job of its own, so one action can count as
    * several jobs; the actions are the distinct SQL execution ids. */
  private def jobsOf(body: => Unit): (Int, Int) = {
    val seen = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) =
          Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
        seen.add((prop("spark.jobGroup.id"), prop("spark.sql.execution.id")))
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("merge-probe", "merge under test")
      try body finally sc.clearJobGroup()
      sc.setJobGroup("merge-marker", "listener drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!seen.asScala.exists(_._1 == "merge-marker") &&
          System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen.asScala.exists(_._1 == "merge-marker"),
        "listener never saw the marker job")
      val probe = seen.asScala.toSeq.filter(_._1 == "merge-probe")
      (probe.size, probe.map(_._2).distinct.size)
    } finally sc.removeSparkListener(listener)
  }

  test("jobs per merge: no kind runs more jobs than before the merge core, no LWW count job") {
    val rows = (1 to 40).map(i => (s"k$i", f"2024-06-${i % 3 + 1}%02d", 1L, s"v$i"))
    val seed = rows.toDF("key", "day", "seqno", "v")
    val batch = Seq(("k5", "2024-06-03", 2L, "v5b"), ("k900", "2024-06-01", 1L, "new"))
      .toDF("key", "day", "seqno", "v")
    val keys = Seq("key")
    val seq = Seq("seqno")
    def keepFirst(df: org.apache.spark.sql.DataFrame, path: String): Long =
      MergeWriter.upsert(spark, df, path, keys, MergeWriter.Layout.Flat,
        MergeWriter.Combine.KeepFirst(seq))
    def delta(n: Long) = Seq(("k5", n), ("k901", n)).toDF("key", "n")
    val dir = tmpDir("jobs")
    // Seed every table (untimed): each measured merge is a steady-state
    // one into an existing table of its layout.
    MergeWriter.merge(spark, seed, s"$dir/flat", keys, seq)
    keepFirst(seed, s"$dir/first")
    MergeWriter.merge(spark, seed, s"$dir/repl", keys, seq)
    MergeWriter.mergeBucketed(spark, seed, s"$dir/bucketed", keys, seq, "key", 4)
    MergeWriter.mergePartitioned(spark, seed, s"$dir/part", keys, seq, "day")
    MergeWriter.mergePartitioned(spark, seed, s"$dir/partb", keys, seq, "day",
      bucket = Some(("key", 4)))
    MergeWriter.mergeAdditiveBucketed(spark, delta(1L), s"$dir/add", keys,
      Seq("n"), "n", "key", 4, "key")

    // kind -> ((jobs, actions), jobs per merge when each kind had a body
    // of its own, SQL actions an LWW kind may run). An LWW merge runs the
    // table's schema read, the touched-slice query when it is scoped, and
    // its write — never a count of its own.
    val measured = Seq(
      ("flat-lww", jobsOf(MergeWriter.merge(spark, batch, s"$dir/flat", keys, seq): Unit),
        3, Some(2)),
      ("keep-first", jobsOf(keepFirst(batch, s"$dir/first"): Unit), 5, None),
      ("replace-rows", jobsOf(MergeWriter.replaceRows(spark, batch,
        s"$dir/repl", keys): Unit), 7, None),
      ("bucketed-scoped", jobsOf(MergeWriter.mergeBucketed(spark, batch,
        s"$dir/bucketed", keys, seq, "key", 4): Unit), 9, Some(3)),
      ("partitioned-scoped", jobsOf(MergeWriter.mergePartitioned(spark, batch,
        s"$dir/part", keys, seq, "day"): Unit), 8, Some(3)),
      ("partitioned-bucketed-scoped", jobsOf(MergeWriter.mergePartitioned(spark,
        batch, s"$dir/partb", keys, seq, "day", bucket = Some(("key", 4))): Unit),
        9, Some(3)),
      ("additive-scoped", jobsOf(MergeWriter.mergeAdditiveBucketed(spark,
        delta(2L), s"$dir/add", keys, Seq("n"), "n", "key", 4, "key"): Unit),
        15, None))
    val report = measured.map { case (k, (j, a), _, _) => s"$k=$j/$a" }.mkString(" ")
    info(s"jobs/actions per merge: $report")
    measured.foreach { case (kind, (jobs, actions), before, lwwActions) =>
      assert(jobs <= before, s"$kind: $jobs jobs, $before before ($report)")
      lwwActions.foreach(max => assert(actions <= max,
        s"$kind: $actions SQL actions, at most $max ($report)"))
    }
    // The steady-state merges landed: each table holds the batch.
    assert(spark.read.parquet(s"$dir/flat").count() == 41)
    assert(spark.read.parquet(s"$dir/first").filter(col("key") === "k5")
      .head().getAs[String]("v") == "v5")
    assert(spark.read.parquet(s"$dir/part").filter(col("key") === "k5")
      .head().getAs[String]("v") == "v5b")
    assert(spark.read.parquet(s"$dir/add").filter(col("key") === "k5")
      .head().getAs[Long]("n") == 3L)
  }
}
