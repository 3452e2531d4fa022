package graft.streaming

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.gold.{GoldCounts, GoldRefresh}
import graft.ingest.Fixtures
import graft.queries.{QueryServer, QueryService}

/** The in-stream gold beat (StreamIngest goldBeatEveryBlocks — the
  * reference's every-5-minutes crontab beat at block-height cadence):
  * beats fire as the stream crosses cadence boundaries, gold tables
  * exist and advance generations DURING the stream (no external
  * scheduler), and after the cadence-remainder settle the gold plane
  * equals a beat-less stream + full rebuild of the same lake. A stream
  * with small triggers lands the same silver store as one backfill over
  * the same blocks, and readers served while the beats swap gold see no
  * 5xx and no count going backwards. */
@org.scalatest.tags.Slow
class StreamGoldBeatSpec extends SparkSpec {
  import Fixtures._

  /** Writes block `height` twice: in the lake layout (a dir per height,
    * block.json + shard_0.json) the stream's fetcher reads, and as the
    * flat block message `StreamIngest.backfill` reads. */
  private def writeBlock(lake: String, flat: String, height: Long,
      receipts: Seq[String]): Unit = {
    val d = Paths.get(lake, f"$height%012d")
    Files.createDirectories(d)
    Files.write(d.resolve("block.json"),
      s"""{"header": {"height": $height, "timestamp": ${height * 1000000000L}}}"""
        .getBytes("UTF-8")): Unit
    Files.write(d.resolve("shard_0.json"),
      s"""{"shard_id": 0, "receipt_execution_outcomes": [${receipts.mkString(",")}]}"""
        .getBytes("UTF-8")): Unit
    Files.write(Paths.get(flat, f"$height%012d.json"),
      block(height, height * 1000000000L, receipts).getBytes("UTF-8")): Unit
  }

  private def donation(h: Long): String =
    receipt("donate.potlock.near", "donate", "{}",
      resultJson = Some(directDonationResult(h, s"donor${h % 3}.near",
        "1000000000000000000000000", "0", s"proj${h % 2}.near",
        1718000000000L + h)),
      receiptId = s"r$h")

  /** A near.social profile write: last-writer-wins on the account row. */
  private def profile(h: Long, account: String): String =
    receipt("social.near", "set",
      s"""{"data": {"$account": {"profile": {"name": "User $h"}}}}""",
      resultJson = Some("{}"), signer = account, receiptId = s"rs$h")

  private def lakeOptions(lake: String, start: Long): Map[String, String] = Map(
    "fetcher.class" -> classOf[LakeFsBlockFetcher].getName,
    "fetcher.url" -> ("file://" + lake), "startHeight" -> start.toString,
    "maxBlocksPerTrigger" -> "2")

  private def generationOf(dir: String): Long =
    graft.operators.MergeWriter.io.readString(s"$dir/gold_meta")
      .flatMap(_.split('\n').find(_.startsWith("generation="))
        .map(_.stripPrefix("generation=").toLong)).getOrElse(-1L)

  /** A table's rows in column-sorted, row-sorted string form. */
  private def rows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col): _*)
      .collect().map(_.toString).sorted.toSeq

  /** The store's table dirs, minus swap/staging leftovers. */
  private def tablesOf(dir: String): Set[String] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && !f.getName.contains(".tmp-") &&
        !f.getName.contains(".old-") && !f.getName.endsWith(".dirty.d") &&
        !f.getName.contains(".apply-"))
      .map(_.getName).toSet

  test("beats fire on cadence boundaries; settled gold equals the beat-less oracle") {
    val lake = tmpDir("beat-lake")
    val flat = tmpDir("beat-flat")
    val live = tmpDir("beat-live")
    val liveCkpt = tmpDir("beat-live-ckpt")
    val oracle = tmpDir("beat-oracle")
    val oracleCkpt = tmpDir("beat-oracle-ckpt")
    val backfilled = tmpDir("beat-backfill")
    // Two profile writes to one account land in different micro-batches
    // of the stream and in one batch of the backfill: the later must win
    // in both.
    (600L to 611L).foreach(h => writeBlock(lake, flat, h, Seq(donation(h)) ++
      (if (h == 603L || h == 609L) Seq(profile(h, "donor0.near")) else Nil)))

    val opts = lakeOptions(lake, 600L)
    val q = StreamIngest.startFromLake(spark, opts, live, liveCkpt,
      availableNow = true, goldBeatEveryBlocks = Some(4L))
    assert(q.awaitTermination(300000), "beat stream did not drain")

    // Beats ran IN-STREAM: gold exists and several generations landed
    // without any external refresh call (trigger 2 over 12 blocks with
    // cadence 4 crosses three boundaries).
    val genAfterStream = generationOf(live)
    assert(genAfterStream >= 3,
      s"expected ≥3 in-stream beats, generation=$genAfterStream")
    assert(graft.operators.MergeWriter.io.exists(s"$live/account_stats"))

    // Settle the cadence remainder (the production beat's next firing),
    // then compare against a beat-less stream + one full rebuild.
    GoldRefresh.refresh(spark, live): Unit
    val oq = StreamIngest.startFromLake(spark, opts, oracle, oracleCkpt,
      availableNow = true)
    assert(oq.awaitTermination(300000), "oracle stream did not drain")

    // Silver parity: six 2-block micro-batches land the same store as
    // one backfill over the same blocks — ingest-seq LWW arbitration
    // makes per-batch merge order invisible.
    StreamIngest.backfill(spark, flat, backfilled): Unit
    val silver = tablesOf(oracle)
    assert(silver == tablesOf(backfilled), "silver table sets diverge")
    assert(silver.contains("accounts") && silver.contains("donations"))
    for (t <- silver) {
      // block_height.updated_at is the ingest's own wall clock by
      // contract: the one column two correct runs disagree on.
      def read(dir: String) = {
        val df = spark.read.parquet(s"$dir/$t")
        if (t == "block_height") df.drop("updated_at") else df
      }
      assert(rows(read(oracle)) == rows(read(backfilled)), s"silver table $t diverged")
    }
    assert(spark.read.parquet(s"$backfilled/accounts")
      .filter(col("id") === "donor0.near")
      .select("near_social_profile_data").head().getString(0).contains("User 609"))

    GoldRefresh.refreshFull(spark, oracle): Unit
    def gold(dir: String, t: String) =
      rows(spark.read.parquet(s"$dir/$t").drop("__gen", "__pdate"))
    for (t <- Seq("donations_enriched", "account_stats", "pot_stats",
        "global_stats"))
      assert(gold(live, t) == gold(oracle, t), s"gold table $t diverged")
  }

  test("live readers: no 5xx and no count going backwards while beats swap gold; settled counts equal a backfill's") {
    val lake = tmpDir("reader-lake")
    val flat = tmpDir("reader-flat")
    val live = tmpDir("reader-live")
    val ckpt = tmpDir("reader-ckpt")
    val oracle = tmpDir("reader-oracle")
    def land(hs: Seq[Long]): Unit =
      hs.foreach(h => writeBlock(lake, flat, h, Seq(donation(h))))
    val opts = lakeOptions(lake, 700L)

    // A served store first: the base blocks and one gold generation.
    land(700L to 707L)
    assert(StreamIngest.startFromLake(spark, opts, live, ckpt,
      availableNow = true).awaitTermination(300000), "base did not drain")
    GoldRefresh.refresh(spark, live): Unit
    def server(dir: String) = new QueryServer(
      new QueryService(QueryServer.memoizedServingLoader(spark, dir)), dir,
      goldCounts = Some(new GoldCounts(spark, dir)),
      throttlePerMin = Int.MaxValue)
    val srv = server(live)

    // Route → the count its body carries: the envelope count, or the
    // stats document's donation count.
    val envelope = """"count": (\d+)""".r
    val stats = """"total_donations_count":(\d+)""".r
    val routes = Seq(
      "/api/v1/stats" -> stats,
      "/api/v1/donors" -> envelope,
      "/api/v1/accounts/proj0.near/donations_received" -> envelope,
      "/api/v1/accounts/donor1.near/donations_sent" -> envelope)
    val countIn = routes.toMap
    def count(s: QueryServer, route: String): (Int, Option[Long]) = {
      val r = s.handle("GET", route, Map.empty)
      (r.status, countIn(route).findFirstMatchIn(r.body).map(_.group(1).toLong))
    }

    val stop = new AtomicBoolean(false)
    val served = new AtomicLong
    val failures = new ConcurrentLinkedQueue[String]
    val readers = (0 until 3).map { i =>
      val t = new Thread(() => {
        val last = scala.collection.mutable.Map.empty[String, Long]
        var k = i
        while (!stop.get()) {
          val route = routes(k % routes.size)._1
          k += 1
          // The store only grows during the run (append-only donations,
          // additive beats), so a count below this reader's previous one
          // on the route is a stale-after-swap read.
          val (status, n) =
            try count(srv, route)
            catch { case scala.util.control.NonFatal(e) =>
              failures.add(s"$route threw $e"): Unit; (599, None) }
          served.incrementAndGet(): Unit
          if (status >= 500) failures.add(s"$route answered $status"): Unit
          n.foreach { c =>
            last.get(route).filter(_ > c).foreach(p =>
              failures.add(s"$route count went back $p → $c"): Unit)
            last(route) = c
          }
          Thread.sleep(10)
        }
      }, s"gold-beat-reader-$i")
      t.setDaemon(true)
      t.start()
      t
    }

    // The tail: 16 blocks in 2-block micro-batches, a beat every 4.
    val genBefore = generationOf(live)
    land(708L to 723L)
    val q = StreamIngest.startFromLake(spark, opts, live, ckpt,
      availableNow = true, goldBeatEveryBlocks = Some(4L))
    val drained = q.awaitTermination(600000)
    GoldRefresh.refresh(spark, live): Unit
    val servedDuringTail = served.get
    stop.set(true)
    readers.foreach(_.join(60000))
    assert(drained, "beat stream did not drain")
    assert(failures.isEmpty,
      s"${failures.size} bad reads of $servedDuringTail: " +
        s"${failures.toArray.take(5).mkString("; ")} " +
        s"(staleRetries=${srv.staleRetries})")
    assert(generationOf(live) - genBefore >= 3,
      s"expected beats under the readers: generation $genBefore → ${generationOf(live)}")
    assert(servedDuringTail >= 3 * routes.size,
      s"only $servedDuringTail reads while the beats ran")
    info(s"$servedDuringTail reads, ${srv.staleRetries} stale-swap retries, " +
      s"gold generation $genBefore → ${generationOf(live)}")

    // Settled counts equal a backfill + full rebuild over the same
    // blocks. The result cache revalidates a swapped entry in the
    // background, so a settled count may surface one read later.
    StreamIngest.backfill(spark, flat, oracle): Unit
    GoldRefresh.refreshFull(spark, oracle): Unit
    val expected = server(oracle)
    for ((route, _) <- routes) {
      val want = count(expected, route)
      assert(want._1 == 200 && want._2.exists(_ > 0), s"oracle $route: $want")
      var got = count(srv, route)
      val deadline = System.nanoTime() + 60000000000L
      while (got != want && System.nanoTime() < deadline) {
        Thread.sleep(250)
        got = count(srv, route)
      }
      assert(got == want, s"settled $route served $got, backfill serves $want")
    }
  }
}
