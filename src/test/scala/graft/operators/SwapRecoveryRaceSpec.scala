package graft.operators

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, CyclicBarrier, TimeUnit}

import graft.SparkSpec
import graft.gold.GoldRefresh
import graft.ingest.Fixtures
import graft.streaming.StreamIngest

/** [[TableSwap.recoverCrashedSwap]]'s concurrency contract, pinned with
  * REAL racing threads. The mid-swap kill-loop spec (QueryServerSpec)
  * injects crashes sequentially; the race outcomes below were previously
  * only ARGUED from the marker protocol. Three named interleavings:
  *
  *  1. a reader racing the (still-live-after-all) swapper resuming its
  *     own move-in — same uid, both may move/delete/stamp;
  *  2. two readers racing the same crashed pair;
  *  3. a DIFFERENT-uid republish landing exactly between the reader's
  *     move-in and its marker stamp — the reader's late stamp must NOT
  *     regress the marker behind the republished content.
  *
  * These need no Spark: recoverCrashedSwap is pure file protocol, so the
  * race loops run hundreds of iterations in milliseconds against real
  * directories. The writer cases at the end run real writers whose
  * move-in a reader steals, one per whole-table swap shape.
  */
@org.scalatest.tags.Slow
class SwapRecoveryRaceSpec extends SparkSpec {

  private val UidCrashed = "aaaa1111"
  private val UidRepub = "bbbb2222"

  /** The crashed-swap window on disk: live dir MISSING, complete
    * `.tmp-<uid>` payload + `.old-<uid>` copy beside it, marker still at
    * the pre-crash uid. */
  private def mkCrashedState(parent: String, name: String): String = {
    val path = s"$parent/$name"
    Files.createDirectories(Paths.get(s"$path.tmp-$UidCrashed"))
    Files.write(Paths.get(s"$path.tmp-$UidCrashed/part-new.parquet"),
      "new-payload".getBytes("UTF-8"))
    Files.createDirectories(Paths.get(s"$path.old-$UidCrashed"))
    Files.write(Paths.get(s"$path.old-$UidCrashed/part-old.parquet"),
      "old-payload".getBytes("UTF-8"))
    LocalTableIO.writeStringAtomic(TableSwap.markerPath(path), "prior0")
    path
  }

  /** Run two thunks on a shared start barrier; rethrow anything either
    * threw (a racer crashing IS a finding — the protocol must tolerate
    * losing any of its races). */
  private def race(a: () => Unit, b: () => Unit): Unit = {
    val barrier = new CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val ts = Seq(a, b).map { f =>
      new Thread(() => {
        barrier.await()
        try f() catch { case t: Throwable => errs.add(t): Unit }
      })
    }
    ts.foreach(_.start())
    ts.foreach(_.join(30000))
    assert(errs.isEmpty, s"racer threw: ${errs.peek()}")
  }

  private def assertRecovered(path: String, iter: Int): Unit = {
    assert(Files.exists(Paths.get(s"$path/part-new.parquet")),
      s"iter $iter: recovered payload lost")
    assert(!Files.exists(Paths.get(s"$path.tmp-$UidCrashed")),
      s"iter $iter: tmp residue survived")
    assert(!Files.exists(Paths.get(s"$path.old-$UidCrashed")),
      s"iter $iter: old residue survived")
    assert(LocalTableIO.readString(TableSwap.markerPath(path))
      .contains(UidCrashed), s"iter $iter: marker not stamped to the " +
      "recovered uid")
  }

  test("interleaving 1: reader races the resuming swapper's own move-in") {
    val base = Files.createTempDirectory("swaprace1").toString
    (0 until 200).foreach { i =>
      val path = mkCrashedState(base, s"t$i")
      race(
        () => { TableSwap.recoverCrashedSwap(path): Unit },
        () => {
          // The swapper was slow, not dead: it resumes writeAndSwap's
          // tail — tolerant move-in, drop the old copy, stamp.
          TableSwap.moveInTolerant(s"$path.tmp-$UidCrashed", path)
          LocalTableIO.deleteRecursively(s"$path.old-$UidCrashed")
          LocalTableIO.writeStringAtomic(
            TableSwap.markerPath(path), UidCrashed)
        })
      assertRecovered(path, i)
    }
  }

  test("interleaving 2: two readers race the same crashed pair") {
    val base = Files.createTempDirectory("swaprace2").toString
    (0 until 200).foreach { i =>
      val path = mkCrashedState(base, s"t$i")
      var r1 = false; var r2 = false
      race(
        () => r1 = TableSwap.recoverCrashedSwap(path),
        () => r2 = TableSwap.recoverCrashedSwap(path))
      // At least one reader restored the table. The other reports either
      // true (lost the move but observed the winner's live table) or
      // false (entered late, found the path already live / the pair
      // already consumed — nothing to recover). Both are correct; what
      // is NOT allowed is nobody recovering, or an exception (race()
      // rethrows those).
      assert(r1 || r2, s"iter $i: no reader restored the table")
      assertRecovered(path, i)
    }
  }

  test("interleaving 3: different-uid republish between the reader's move-in and its stamp — marker must not regress") {
    val base = Files.createTempDirectory("swaprace3").toString
    val path = mkCrashedState(base, "t")
    // The republish's fresh payload, written before the race starts.
    Files.createDirectories(Paths.get(s"$path.tmp-$UidRepub"))
    Files.write(Paths.get(s"$path.tmp-$UidRepub/part-repub.parquet"),
      "republished".getBytes("UTF-8"))

    // Deterministic schedule via an io gate: recoverCrashedSwap deletes
    // `.old-<uid>` right after its successful move-in and before its
    // conditional stamp — hold the reader THERE while the republish runs
    // a complete aside/move-in/stamp cycle under a new uid.
    val readerMoved = new CountDownLatch(1)
    val republishDone = new CountDownLatch(1)
    val inner = LocalTableIO
    val gated = new TableIO {
      def exists(p: String) = inner.exists(p)
      def listDir(p: String) = inner.listDir(p)
      def atomicMove(s: String, d: String) = inner.atomicMove(s, d)
      def createDirectories(p: String) = inner.createDirectories(p)
      def readString(p: String) = inner.readString(p)
      def writeStringAtomic(p: String, c: String) =
        inner.writeStringAtomic(p, c)
      def fileSizes(p: String) = inner.fileSizes(p)
      def lastModifiedMs(p: String) = inner.lastModifiedMs(p)
      def deleteRecursively(p: String) = {
        inner.deleteRecursively(p)
        if (p == s"$path.old-$UidCrashed") {
          readerMoved.countDown()
          assert(republishDone.await(30, TimeUnit.SECONDS),
            "republish never finished")
        }
      }
    }
    val prevIo = MergeWriter.io
    MergeWriter.io = gated
    try {
      var recovered = false
      val reader = new Thread(() => recovered =
        TableSwap.recoverCrashedSwap(path))
      reader.start()
      assert(readerMoved.await(30, TimeUnit.SECONDS),
        "reader never reached its post-move-in window")
      // Republish: the restarted beat publishes FRESH content under a
      // new uid, exactly the writeAndSwap sequence.
      assert(inner.exists(path))
      inner.atomicMove(path, s"$path.old-$UidRepub")
      inner.atomicMove(s"$path.tmp-$UidRepub", path)
      inner.deleteRecursively(s"$path.old-$UidRepub")
      inner.writeStringAtomic(TableSwap.markerPath(path), UidRepub)
      republishDone.countDown()
      reader.join(30000)
      assert(recovered, "reader's recovery should have succeeded")
      // The pinned outcome: the reader's LATE stamp detected the
      // republish (marker moved + its sentinel rotated away) and did NOT
      // regress the marker behind the live content.
      assert(LocalTableIO.readString(TableSwap.markerPath(path))
        .contains(UidRepub),
        "reader's late stamp regressed the marker behind the republish")
      assert(Files.exists(Paths.get(s"$path/part-repub.parquet")),
        "live table is not the republished content")
      assert(!Files.exists(Paths.get(s"$path/part-new.parquet")),
        "stale recovered payload leaked into the republished table")
      assert(Files.list(Paths.get(path)).toArray.map(_.toString)
        .forall(!_.contains("_graft_recover_")),
        "recovery sentinel leaked into the live table")
    } finally MergeWriter.io = prevIo
  }

  /** Local IO whose first move of a `<table>.tmp-*` dir onto `table` is
    * preceded by a reader rolling that very swap forward: the window a
    * stale-swap read (QueryServer.rollForwardCrashedSwaps) can hit between
    * a writer's aside and its move-in. */
  private final class StealingIO(table: String) extends TableIO {
    private val inner = LocalTableIO
    @volatile var stolen = false
    def exists(p: String) = inner.exists(p)
    def listDir(p: String) = inner.listDir(p)
    def atomicMove(s: String, d: String) = {
      if (!stolen && d == table && TableSwap.isTmpOf(table, s)) {
        stolen = true
        assert(TableSwap.recoverCrashedSwap(table),
          "the reader found no swap to roll forward")
      }
      inner.atomicMove(s, d)
    }
    def createDirectories(p: String) = inner.createDirectories(p)
    def deleteRecursively(p: String) = inner.deleteRecursively(p)
    def readString(p: String) = inner.readString(p)
    def writeStringAtomic(p: String, c: String) = inner.writeStringAtomic(p, c)
    def fileSizes(p: String) = inner.fileSizes(p)
    def lastModifiedMs(p: String) = inner.lastModifiedMs(p)
  }

  private def withIO[T](io: TableIO)(body: => T): T = {
    val prev = MergeWriter.io
    MergeWriter.io = io
    try body finally MergeWriter.io = prev
  }

  private def residue(table: String): Seq[String] = {
    val slash = table.lastIndexOf('/')
    val name = table.drop(slash + 1)
    LocalTableIO.listDir(table.take(slash)).map(_._1)
      .filter(n => TableSwap.isTmpOf(name, n) || TableSwap.isAsideOf(name, n))
  }

  test("writer case: a reader rolling a migrate swap forward does not fail the merge") {
    import spark.implicits._
    val path = Files.createTempDirectory("swaprace-migrate").toString + "/t"
    (1 to 10).map(i => (s"k$i", f"2024-06-${i % 2 + 1}%02d", 1L, i))
      .toDF("key", "day", "seqno", "v").write.parquet(path) // flat: migrates
    val batch = Seq(("k1", "2024-06-02", 2L, 100), ("k11", "2024-06-01", 1L, 11))
      .toDF("key", "day", "seqno", "v")
    val io = new StealingIO(path)
    val n = withIO(io)(MergeWriter.mergePartitioned(spark, batch, path,
      Seq("key"), Seq("seqno"), "day"))
    assert(io.stolen, "the migrate swap never moved a tmp in")
    assert(n == 11)
    val merged = spark.read.parquet(path)
    assert(merged.count() == 11)
    assert(merged.filter($"key" === "k1").head().getAs[Int]("v") == 100)
    assert(residue(path).isEmpty, s"swap residue: ${residue(path)}")
    assert(MergeWriter.readCountsSidecar(path).map(_._2)
      .contains(TableSwap.markerUid(path)), "counts sidecar left invalid")
  }

  test("writer case: a reader rolling the full rebuild's account_stats swap forward does not fail the rebuild") {
    import Fixtures._
    val in = Files.createTempDirectory("swaprace-bronze").toString
    val silver = Files.createTempDirectory("swaprace-silver").toString
    val blocks = Seq(block(500, 1718000000000000000L, Seq(
      receipt("donate.potlock.near", "donate", "{}",
        resultJson = Some(directDonationResult(9, "whale.near",
          "100000000000000000000000000", "0", "sea.near", 1718000000001L)),
        receiptId = "rs1"))))
    Files.write(Paths.get(in, "b.json"), blocks.mkString("\n").getBytes)
    StreamIngest.backfill(spark, in, silver)
    GoldRefresh.refreshFull(spark, silver)
    val stats = s"$silver/account_stats"
    def ids() = spark.read.parquet(stats).select("id").collect()
      .map(_.getString(0)).sorted.toSeq
    val before = ids()
    assert(before.nonEmpty)

    val io = new StealingIO(stats)
    withIO(io)(GoldRefresh.refreshFull(spark, silver))
    assert(io.stolen, "the rebuild never moved an account_stats tmp in")
    assert(ids() == before)
    assert(residue(stats).isEmpty, s"swap residue: ${residue(stats)}")
    assert(MergeWriter.readCountsSidecar(stats).map(_._2)
      .contains(TableSwap.markerUid(stats)), "counts sidecar left invalid")
  }
}
