package graft.gold

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ingest.Fixtures
import graft.streaming.StreamIngest

/** Gold refresh end-to-end: ingest a donation, provide a price row within
  * the ±24h window, refresh, and check the USD-enriched values flow into
  * the stats tables (the reference's fetch_usd_prices +
  * update_account_statistics beat jobs, tasks.py:153-327). */
class GoldSpec extends SparkSpec {
  import Fixtures._
  import spark.implicits._

  test("usd enrichment + stats refresh from silver") {
    val in = tmpDir("gold-bronze")
    val silverDir = tmpDir("gold-silver")
    // 100 NEAR donation (1e26 yocto), no fees, at t=1718000000001 ms.
    val blocks = Seq(block(500, 1718000000000000000L, Seq(
      receipt("donate.potlock.near", "donate", "{}",
        resultJson = Some(directDonationResult(
          9, "whale.near", "100000000000000000000000000", "0",
          "sea.near", 1718000000001L)),
        receiptId = "rg"),
      // A donation in a token with NO price row: must survive enrichment
      // with null USD, not vanish (left as-of join).
      receipt("donate.potlock.near", "donate", "{}",
        resultJson = Some(directDonationResult(
          10, "minnow.near", "1000000", "0",
          "sea.near", 1718000000002L, ft = "odd.token.near")),
        receiptId = "rh"))))
    Files.write(Paths.get(in, "b.json"), blocks.mkString("\n").getBytes)
    StreamIngest.backfill(spark, in, silverDir)

    // Price: 5 USD/NEAR one hour after the donation (inside ±24h).
    Seq(("near", new java.sql.Timestamp(1718000000001L + 3600000L),
        new java.math.BigDecimal("5.00")))
      .toDF("token", "timestamp", "price_usd")
      .write.mode("overwrite").parquet(s"$silverDir/token_prices")

    GoldRefresh.refresh(spark, silverDir)

    val enriched = spark.read.parquet(s"$silverDir/donations_enriched")
    assert(enriched.count() == 2) // the priceless donation survived
    val d = enriched.filter(col("on_chain_id") === 9).head()
    assert(d.getAs[java.math.BigDecimal]("total_amount_usd").doubleValue() == 500.0)
    assert(d.getAs[java.math.BigDecimal]("net_amount_usd").doubleValue() == 500.0)
    val priceless = enriched.filter(col("on_chain_id") === 10).head()
    assert(priceless.isNullAt(priceless.fieldIndex("total_amount_usd")))

    val acct = spark.read.parquet(s"$silverDir/account_stats")
    val whale = acct.filter(col("id") === "whale.near").head()
    assert(whale.getAs[java.math.BigDecimal]("total_donations_out_usd").doubleValue() == 500.0)
    val sea = acct.filter(col("id") === "sea.near").head()
    assert(sea.getAs[Long]("donors_count") == 2) // whale + minnow

    val global = spark.read.parquet(s"$silverDir/global_stats").head()
    assert(global.getAs[Long]("total_donations_count") == 2) // incl. priceless
    assert(global.getAs[java.math.BigDecimal]("total_donations_usd").doubleValue() == 500.0)
  }

  test("unknown token decimals null the USD; ft_metadata snapshot enables it") {
    val in = tmpDir("gold-bronze2")
    val silverDir = tmpDir("gold-silver2")
    def usdcBlock(height: Long, id: Long) =
      block(height, height * 10000000000000000L, Seq(
        receipt("donate.potlock.near", "donate", "{}",
          resultJson = Some(directDonationResult(
            id, "u.near", "1000000", "0", "sea.near", 1718000000003L,
            ft = "usdc.near")),
          receiptId = s"ru$height")))
    Files.write(Paths.get(in, "b.json"), usdcBlock(500, 11).getBytes)
    StreamIngest.backfill(spark, in, silverDir)

    // A price row IS present — only the decimals are unknown.
    Seq(("usdc.near", new java.sql.Timestamp(1718000000003L + 3600000L),
        new java.math.BigDecimal("1.00")))
      .toDF("token", "timestamp", "price_usd")
      .write.mode("overwrite").parquet(s"$silverDir/token_prices")

    GoldRefresh.refresh(spark, silverDir)
    val before = spark.read.parquet(s"$silverDir/donations_enriched")
      .filter(col("on_chain_id") === 11).head()
    // 1e6 raw units: assuming 24 decimals would yield 1e-18 USD — silently
    // wrong. Unknown decimals must null-propagate instead.
    assert(before.isNullAt(before.fieldIndex("total_amount_usd")))

    // Load ft_metadata (decimals 6) and re-refresh: 1e6 / 10^6 * 1.00 = 1.
    val meta = tmpDir("gold-meta")
    Files.write(Paths.get(meta, "tokens.json"),
      """{"account": "usdc.near", "name": "USD Coin", "symbol": "USDC", "decimals": 6}"""
        .getBytes)
    graft.ingest.SnapshotBackfill.mergeInto(spark, silverDir, Map(
      "tokens" -> (graft.ingest.SnapshotBackfill.tokenMetadata(
        spark, s"$meta/tokens.json", 600L),
        graft.ingest.SnapshotBackfill.naturalKeys("tokens"))))
    GoldRefresh.refresh(spark, silverDir)
    val after = spark.read.parquet(s"$silverDir/donations_enriched")
      .filter(col("on_chain_id") === 11).head()
    assert(after.getAs[java.math.BigDecimal]("total_amount_usd").doubleValue() == 1.0)

    // A LATER stub (new donation in the same token) must not erase the
    // loaded metadata: LWW winner's nulls backfill from the metadata row.
    val in2 = tmpDir("gold-bronze3")
    Files.write(Paths.get(in2, "b.json"), usdcBlock(700, 12).getBytes)
    StreamIngest.backfill(spark, in2, silverDir)
    val tok = spark.read.parquet(s"$silverDir/tokens")
      .filter(col("account") === "usdc.near").head()
    assert(tok.getAs[Int]("decimals") == 6)
    assert(tok.getAs[String]("symbol") == "USDC")
  }

  // ------------------------------------------------------------------
  // Incremental refresh: bit-identity vs full rebuild, crash windows.
  // ------------------------------------------------------------------

  private val t1 = 1718000000001L                 // 2024-06-10
  private val t2 = t1 + 3L * 24 * 3600 * 1000     // 2024-06-13

  private def batch1: Seq[String] = Seq(
    block(500, 1718000000000000000L, Seq(
      receipt(potAccount, "new",
        potNewArgs("owner.near", Seq("a1.near"), "My Pot"),
        resultJson = Some("\"ok\""), receiptId = "p1"),
      receipt("donate.potlock.near", "donate", "{}",
        resultJson = Some(directDonationResult(1, "whale.near",
          "100000000000000000000000000", "0", "sea.near", t1)),
        receiptId = "r1"))),
    block(501, 1718000001000000000L, Seq(
      receipt(potAccount, "donate", "{}",
        resultJson = Some(potDonationResult(7, "donor2.near",
          "50000000000000000000000000", "49000000000000000000000000",
          "1000000000000000000000000", matchingPool = true, projectId = None,
          donatedAtMs = t1 + 1000L)), receiptId = "r2"))))

  private def batch2: Seq[String] = Seq(
    block(600, 1718300000000000000L, Seq(
      receipt("donate.potlock.near", "donate", "{}",
        resultJson = Some(directDonationResult(2, "minnow.near",
          "2000000000000000000000000000", "0", "reef.near", t2)),
        receiptId = "r3"),
      receipt(potAccount, "chef_set_payouts",
        """{"payouts": [{"project_id": "proj1.near", "amount": "7000000000000000000000000"}]}""",
        resultJson = Some("\"ok\""), receiptId = "r4", signer = "chef.near"))))

  private def batch3: Seq[String] = Seq(
    block(700, 1718400000000000000L, Seq(
      receipt("lists.potlock.near", "create_list", "{}",
        resultJson = Some(listCreateResult(9, "fresh.near")),
        receiptId = "r5"))))

  private def ingest(bs: Seq[String], silverDir: String, tag: String): Unit = {
    val in = tmpDir(s"inc-in-$tag")
    Files.write(Paths.get(in, "b.json"), bs.mkString("\n").getBytes)
    StreamIngest.backfill(spark, in, silverDir)
  }

  private def writePrices(dir: String, rows: Seq[(Long, String)]): Unit =
    rows.map { case (ms, p) =>
      ("near", new java.sql.Timestamp(ms), new java.math.BigDecimal(p)) }
      .toDF("token", "timestamp", "price_usd")
      .write.mode("overwrite").parquet(s"$dir/token_prices")

  private val prices1 = Seq(t1 + 3600000L -> "5.00")
  // A later price CLOSER to the batch-1 donations (must re-price them),
  // plus one covering batch 2's day.
  private val prices2 = Seq(t1 + 3600000L -> "5.00",
    t1 + 1800000L -> "7.00", t2 + 60000L -> "6.00")

  private def buildOracle(): String = {
    val oracle = tmpDir("inc-oracle")
    ingest(batch1 ++ batch2 ++ batch3, oracle, "oracle")
    writePrices(oracle, prices2)
    GoldRefresh.refreshFull(spark, oracle)
    oracle
  }

  private def rowsOf(dir: String, t: String): Seq[String] = {
    val df0 = spark.read.parquet(s"$dir/$t")
    val df = if (df0.columns.contains("__gen")) df0.drop("__gen") else df0
    df.select(df.columns.sorted.map(col): _*)
      .collect().map(_.toString).sorted.toSeq
  }

  private def assertGoldEqual(live: String, oracle: String): Unit =
    for (t <- Seq("donations_enriched", "account_stats", "pot_stats",
        "global_stats"))
      assert(rowsOf(live, t) == rowsOf(oracle, t), s"table $t diverged")

  test("incremental refresh is bit-identical to a full rebuild across batches") {
    val live = tmpDir("inc-live")
    ingest(batch1, live, "b1")
    writePrices(live, prices1)
    GoldRefresh.refresh(spark, live) // bootstrap → full

    ingest(batch2, live, "b2")
    writePrices(live, prices2)
    val r2 = GoldRefresh.refreshIncremental(spark, live)
    assert(r2.mode == "incremental", s"expected incremental, got $r2")

    ingest(batch3, live, "b3") // account-only batch (no donations)
    val r3 = GoldRefresh.refreshIncremental(spark, live)
    assert(r3.mode == "incremental", s"expected incremental, got $r3")

    val oracle = buildOracle()
    assertGoldEqual(live, oracle)

    // The late CLOSER price actually re-priced the already-priced batch-1
    // donation (7 USD/NEAR × 100 NEAR), not just null-USD rows.
    val d1 = spark.read.parquet(s"$live/donations_enriched")
      .filter(col("on_chain_id") === 1).head()
    assert(d1.getAs[java.math.BigDecimal]("total_amount_usd")
      .doubleValue() == 700.0)
    // Account-only batch surfaced the new account in account_stats.
    assert(spark.read.parquet(s"$live/account_stats")
      .filter(col("id") === "fresh.near").count() == 1)
    // And a refresh with nothing new is a noop that leaves gold alone.
    val r4 = GoldRefresh.refreshIncremental(spark, live)
    assert(r4.mode == "noop", s"expected noop, got $r4")
    assertGoldEqual(live, oracle)
  }

  test("only the gold beat's inputs keep a dirty journal") {
    val live = tmpDir("journal-live")
    ingest(batch1, live, "j1")
    writePrices(live, prices1)
    GoldRefresh.refresh(spark, live) // bootstrap → full
    ingest(batch2, live, "j2")
    // Between beats the journaled inputs carry the batch's slices.
    val io = graft.operators.MergeWriter.io
    val donationsJournal = graft.operators.MergeWriter.dirtyDir(s"$live/donations")
    assert(graft.operators.MergeWriter.readDirty(s"$live/donations").nonEmpty)
    val r = GoldRefresh.refreshIncremental(spark, live)
    assert(r.mode == "incremental", s"expected incremental, got $r")
    // The beat consumed them…
    assert(!io.exists(donationsJournal) || io.listDir(donationsJournal).isEmpty)
    // …and no other table ever grew one: nothing reads theirs.
    assert(io.exists(s"$live/activities") && io.exists(s"$live/account_stats"))
    for (t <- Seq("activities", "account_stats", "gold_state/recv_pairs",
        "gold_state/donor_state", "gold_state/pot_state"))
      assert(!io.exists(s"$live/$t.dirty.d"), s"$t has a dirty journal")
  }

  /** IO delegate that throws once when a mutation matches the armed
    * predicate — simulates a crash at an exact protocol step; reads are
    * never interrupted (a crash can't corrupt a read). */
  private object CrashIO extends graft.operators.TableIO {
    import graft.operators.LocalTableIO
    @volatile var armed: String => Boolean = _ => false
    private def guard(op: String): Unit =
      if (armed(op)) { armed = _ => false; throw new RuntimeException(s"crash at $op") }
    def exists(p: String) = LocalTableIO.exists(p)
    def listDir(p: String) = LocalTableIO.listDir(p)
    def atomicMove(s: String, d: String) = {
      guard(s"mv:$d"); LocalTableIO.atomicMove(s, d) }
    def createDirectories(p: String) = LocalTableIO.createDirectories(p)
    def deleteRecursively(p: String) = {
      guard(s"rm:$p"); LocalTableIO.deleteRecursively(p) }
    def readString(p: String) = LocalTableIO.readString(p)
    def writeStringAtomic(p: String, c: String) = {
      guard(s"w:$p"); LocalTableIO.writeStringAtomic(p, c) }
    def fileSizes(p: String) = LocalTableIO.fileSizes(p)
    def lastModifiedMs(p: String) = LocalTableIO.lastModifiedMs(p)
  }

  test("incremental refresh survives crashes at every protocol window", graft.SlowTest) {
    val live = tmpDir("inc-crash-live")
    ingest(batch1, live, "cb1")
    writePrices(live, prices1)
    GoldRefresh.refresh(spark, live)
    ingest(batch2, live, "cb2")
    writePrices(live, prices2)
    ingest(batch3, live, "cb3")

    val prev = graft.operators.MergeWriter.io
    try {
      graft.operators.MergeWriter.io = CrashIO
      // 1. crash mid enriched-partition swap (after staging committed)
      CrashIO.armed = op => op.startsWith("mv:") &&
        op.contains("donations_enriched/__pdate=")
      intercept[RuntimeException](GoldRefresh.refreshIncremental(spark, live))
      // 2. resume crashes INSIDE the state commit (marker write) — the
      //    staged post-state manifest must make the re-commit exact-once
      CrashIO.armed = op => op == s"w:$live/gold_state/recv_pairs.swapuid"
      intercept[RuntimeException](GoldRefresh.refreshIncremental(spark, live))
      // 3. resume crashes between a state commit and its gen fence. The
      //    three state applies run CONCURRENTLY, so the only table whose
      //    fence is GUARANTEED still pending is the one crash #2 cut
      //    (siblings may have completed before the crash propagated) —
      //    the resume must re-commit recv_pairs' staged post-state
      //    exactly-once and then crash writing its fence.
      CrashIO.armed = op => op == s"w:$live/gold_state/recv_pairs.goldgen"
      intercept[RuntimeException](GoldRefresh.refreshIncremental(spark, live))
      // 3b. resume crashes mid global_stats swap — the live row is
      //     transiently ABSENT; the staged next row must carry the resume
      CrashIO.armed = op => op == s"mv:$live/global_stats"
      intercept[RuntimeException](GoldRefresh.refreshIncremental(spark, live))
      // 3c. resume crashes before global_stats' gen fence — prev+delta is
      //     NOT re-derivable from the already-updated live row; the staged
      //     next row must stop the delta from double-applying
      CrashIO.armed = op => op == s"w:$live/global_stats.goldgen"
      intercept[RuntimeException](GoldRefresh.refreshIncremental(spark, live))
      // 4. resume crashes right before the meta commit
      CrashIO.armed = op => op == s"w:$live/gold_meta"
      intercept[RuntimeException](GoldRefresh.refreshIncremental(spark, live))
      // 5. final resume completes
      val r = GoldRefresh.refreshIncremental(spark, live)
      assert(r.mode == "incremental", s"expected incremental, got $r")
    } finally graft.operators.MergeWriter.io = prev

    assertGoldEqual(live, buildOracle())
  }

  test("crash-loop on the incremental path: staged-crash/resume cycles leave no tmp residue, bounded journal", graft.SlowTest) {
    // The path that runs every 5 minutes forever: repeated crash/resume
    // cycles must not accumulate stranded staging dirs (a crash before
    // the apply manifest lands) or stack duplicate journal entries (a
    // resume replaying commitStagedAdditive re-appends under its own
    // entry uid, never a fresh one per attempt).
    val live = tmpDir("inc-crashloop-live")
    ingest(batch1, live, "clb1")
    writePrices(live, prices2)
    GoldRefresh.refresh(spark, live) // bootstrap → full

    def loopBatch(i: Int): Seq[String] = Seq(
      block(800 + i, 1718500000000000000L + i * 1000000000L, Seq(
        receipt("donate.potlock.near", "donate", "{}",
          resultJson = Some(directDonationResult(100L + i, s"donor$i.near",
            "1000000000000000000000000", "0", s"proj$i.near",
            t2 + i * 1000L)),
          receiptId = s"rl$i"))))

    val cycles = 4
    val prev = graft.operators.MergeWriter.io
    try {
      graft.operators.MergeWriter.io = CrashIO
      for (i <- 1 to cycles) {
        ingest(loopBatch(i), live, s"clb-$i")
        // Alternate crash windows: odd cycles die BEFORE the apply
        // manifest lands (stranding the freshly staged tmp dir — only
        // the next stage's sweep can reclaim it); even cycles die
        // INSIDE the committed apply (marker write), so the resume
        // replays commitStagedAdditive and must overwrite its own
        // journal entry instead of appending a duplicate.
        CrashIO.armed =
          if (i % 2 == 1)
            op => op.startsWith(s"w:$live/gold_state/recv_pairs.apply-")
          else op => op == s"w:$live/gold_state/recv_pairs.swapuid"
        intercept[RuntimeException](GoldRefresh.refreshIncremental(spark, live))
        val r = GoldRefresh.refreshIncremental(spark, live) // resume
        assert(r.mode == "incremental", s"cycle $i resume: $r")
      }
    } finally graft.operators.MergeWriter.io = prev

    // Zero orphaned staging dirs anywhere in the state plane…
    val io = graft.operators.MergeWriter.io
    val residue = io.listDir(s"$live/gold_state").collect {
      case (n, true) if n.contains(".tmp-") => n }
    assert(residue.isEmpty, s"stranded staging dirs: $residue")
    // …no leftover apply manifests (each completed refresh clears its
    // generation's fences)…
    val manifests = io.listDir(s"$live/gold_state").collect {
      case (n, false) if n.contains(".apply-") => n }
    assert(manifests.isEmpty, s"leftover apply manifests: $manifests")
    // …and the dirty journal is bounded by completed applies, not by
    // crash/resume attempts.
    for (t <- Seq("recv_pairs", "donor_state", "pot_state")) {
      val dd = s"$live/gold_state/$t.dirty.d"
      val entries = if (io.exists(dd)) io.listDir(dd).count(!_._2) else 0
      assert(entries <= cycles + 2, s"$t journal grew unbounded: $entries")
    }

    // The settled gold equals a no-crash full rebuild over the same blocks.
    val oracle = tmpDir("inc-crashloop-oracle")
    ingest(batch1 ++ (1 to cycles).flatMap(loopBatch), oracle, "clb-oracle")
    writePrices(oracle, prices2)
    GoldRefresh.refreshFull(spark, oracle)
    assertGoldEqual(live, oracle)
  }

  test("a crashed full rebuild re-runs full, and readers keep the old stats", graft.SlowTest) {
    val live = tmpDir("full-crash-live")
    ingest(batch1, live, "fb1")
    writePrices(live, prices1)
    GoldRefresh.refresh(spark, live)
    val statsBefore = rowsOf(live, "account_stats")

    ingest(batch2, live, "fb2")
    writePrices(live, prices2)
    val prev = graft.operators.MergeWriter.io
    try {
      graft.operators.MergeWriter.io = CrashIO
      // Crash a FULL rebuild while the states are being torn down /
      // rebuilt — before account_stats is touched.
      CrashIO.armed = op => op == s"w:$live/gold_state/recv_pairs.goldgen"
      intercept[RuntimeException](GoldRefresh.refreshFull(spark, live))
    } finally graft.operators.MergeWriter.io = prev

    // The fence invalidated the meta, so the crashed rebuild cannot be
    // resumed incrementally over half-rebuilt state...
    assert(!graft.operators.MergeWriter.io.exists(s"$live/gold_meta"))
    // ...and account_stats stayed readable with its pre-crash content
    // (the rebuild writes into a tmp table and swaps, never deletes live).
    assert(rowsOf(live, "account_stats") == statsBefore)

    // The production dispatch recovers by re-running full.
    GoldRefresh.refresh(spark, live)
    ingest(batch3, live, "fb3")
    val r = GoldRefresh.refreshIncremental(spark, live)
    assert(r.mode == "incremental", s"expected incremental, got $r")
    assertGoldEqual(live, buildOracle())
  }

  test("GoldCounts serves envelope counts exactly while current, declines when silver moved") {
    val live = tmpDir("counts-live")
    ingest(batch1 ++ batch2, live, "gc")
    writePrices(live, prices1)
    GoldRefresh.refresh(spark, live)

    val gc = new GoldCounts(spark, live)
    assert(gc.current(), "gold must read current right after a refresh")
    // re-read per call: merges swap partition files under a pinned frame
    def liveCount(c: String, v: String): Long =
      spark.read.parquet(s"$live/donations").filter(col(c) === v).count()
    // Exactness: gold counters == the live scan count, per key.
    for (recipient <- Seq("sea.near", "proj1.near"))
      assert(gc.donationsReceived(recipient) ==
        Some(liveCount("recipient", recipient)), s"recv $recipient")
    for (donor <- Seq("whale.near", "donor2.near"))
      assert(gc.donationsSent(donor) == Some(liveCount("donor", donor)),
        s"sent $donor")
    assert(gc.potDonations(potAccount) == Some(liveCount("pot", potAccount)))
    // A key with no state rows is a real zero, not a decline.
    assert(gc.donationsReceived("ghost.near") == Some(0L))
    // Donors total = the /v1/donors route's count (ingest discovers an
    // accounts row for every donor, so distinct donors ≡ the semi-join).
    assert(gc.totalDonors() ==
      Some(spark.read.parquet(s"$live/donations")
        .select("donor").distinct().count()))

    // Ingest after the beat: counters are stale → the provider must
    // DECLINE (None) so the serving tier falls back to the live count.
    ingest(batch3, live, "gc3")
    // batch3 carries no donations, but the donations table's marker
    // rotation alone must flip currency — exactness is decided by
    // markers, not by inspecting content.
    if (gc.current()) {
      // marker only rotates if the batch merged the donations table; if
      // it did not, counts must still be exact
      assert(gc.donationsSent("whale.near") == Some(liveCount("donor", "whale.near")))
    }
    // A donation-bearing ingest definitely rotates it.
    ingest(batch1.take(1), live, "gc4") // replay of a donation block
    assert(!gc.current(), "donations merged since the beat → must decline")
    assert(gc.donationsReceived("sea.near").isEmpty)
    assert(gc.totalDonors().isEmpty)
    // The next refresh restores currency.
    GoldRefresh.refresh(spark, live)
    assert(gc.current())
    assert(gc.donationsReceived("sea.near") ==
      Some(liveCount("recipient", "sea.near")))
  }

  test("GoldCounts declines while a refresh is in flight; a noop beat clears residue", graft.SlowTest) {
    val live = tmpDir("counts-inflight")
    ingest(batch1 ++ batch2, live, "gi")
    writePrices(live, prices1)
    GoldRefresh.refresh(spark, live)
    val gc = new GoldCounts(spark, live)
    val served = gc.donationsReceived("sea.near")
    assert(served.nonEmpty)

    // A refresh triggered by NON-donation inputs (a price backfill)
    // rewrites the counter states and global_stats WITHOUT rotating the
    // donations marker — uid currency alone cannot see its commit window.
    // The inflight marker is what covers it: while it stands, every
    // counter read declines (live-count fallback), donations uid match or
    // not.
    val io = graft.operators.MergeWriter.io
    io.writeStringAtomic(s"$live/gold_inflight", "test-window")
    assert(!gc.current(), "inflight ⇒ not current")
    assert(gc.donationsReceived("sea.near").isEmpty)
    assert(gc.totalDonors().isEmpty)
    io.deleteRecursively(s"$live/gold_inflight")
    assert(gc.donationsReceived("sea.near") == served, "recovers after clear")

    // Crash residue: a marker stranded between a completed refresh's meta
    // write and its clear is removed by the next beat's NOOP branch
    // (inputs matching the meta prove that refresh fully committed), so
    // counts recover without waiting for a real input change.
    io.writeStringAtomic(s"$live/gold_inflight", "crash-residue")
    assert(gc.donationsReceived("sea.near").isEmpty)
    val r = GoldRefresh.refresh(spark, live)
    assert(r.mode == "noop")
    assert(!GoldRefresh.refreshInFlight(live), "noop beat clears residue")
    assert(gc.donationsReceived("sea.near") == served)

    // A real refresh also ends with the marker down and counts serving.
    ingest(batch1.take(1), live, "gi2")
    GoldRefresh.refresh(spark, live)
    assert(!GoldRefresh.refreshInFlight(live))
    assert(gc.donationsReceived("sea.near").nonEmpty)
  }
}
