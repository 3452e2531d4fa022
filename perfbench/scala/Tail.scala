package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.gold.GoldRefresh
import graft.streaming.StreamIngest

/** `tail`: the live pipeline, lake block → bronze → silver merge → gold
  * beat → served API response, as an indexer restart under load: a
  * backlog waits in the lake and NEAR keeps producing a block a second
  * while the indexer catches up.
  *
  *  1. Catch-up: a backlog of `Backlog` blocks is landed in the lake and
  *     drained by `StreamIngest.startFromLake` into an empty store, in
  *     one micro-batch whose in-stream beat bootstraps gold. This is the
  *     JVM's first ingest and gold work, so it is timed cold, as after
  *     a restart: its first-touch costs (codegen, JIT) are part of the
  *     figure.
  *  2. Live blocks: from the moment the stream starts, an open-loop
  *     generator lands one block per second for the run's seconds. They
  *     queue behind the catch-up and are taken by the micro-batches
  *     after it; every micro-batch fires an in-stream beat
  *     (`goldBeatEveryBlocks` = 1).
  *  3. Once the catch-up has committed, a QueryServer is wired over the
  *     store and prewarmed on the stats document, the one route the run
  *     reads, and a closed-loop poller on /api/v1/stats detects when each
  *     live block's donations become visible. No reader sends the serve
  *     mix: a request that meets two table swaps fails now and then (see
  *     the README), and a benchmark operation must not.
  *  4. Drain and settle: the stream takes the last block, then one final
  *     settle beat runs; the served totals must equal the generator's.
  */
object Tail {
  val Backlog = 150
  val LandEveryMs = 1000L
  val PollThinkMs = 20L

  def run(spark: SparkSession, ledger: Ledger, work: String, seed: Long,
      seconds: Double, trace: Boolean): Outcome = {
    val lake = new Lake(seed)
    val store = new Store(spark, work, lake)
    val problems = new ConcurrentLinkedQueue[String]()
    var query: StreamingQuery = null
    val stop = new AtomicBoolean(false)
    val threads = mutable.ArrayBuffer[Thread]()
    try {
      ledger.phase = "setup"
      val prepareS = Time.s(store.prepare())

      // ---- 1. catch-up, with live blocks landing beside it
      (0 until Backlog).foreach(_ => lake.land(store.lakeDir))
      val backlogHead = lake.height
      @volatile var expectNow = new lake.Expect(backlogHead)
      val landedTotal = new ConcurrentHashMap[Long, Long]() // height -> total
      val landedAt = new ConcurrentHashMap[Long, Long]() // height -> due ns
      val visibleAt = new ConcurrentHashMap[Long, Long]()
      val lateMs = new ConcurrentLinkedQueue[Double]()
      ledger.streamFrom = Lake.H0 - 1
      ledger.phase = "catchup"
      val t0 = System.nanoTime()
      query = StreamIngest.startFromLake(spark,
        Map("fetcher.dir" -> store.lakeDir.toString,
          "startHeight" -> Lake.H0.toString,
          "maxBlocksPerTrigger" -> Backlog.toString,
          "fetchPartitions" -> "4"),
        store.silver, s"$work/ckpt", goldBeatEveryBlocks = Some(1L))
      // Generator: open loop, one block per LandEveryMs from the stream's
      // start. The lake and its donation list are touched by this thread
      // alone until it has ended.
      val generator = daemon("perfbench-generator") {
        try {
          var k = 0L
          while (k * LandEveryMs < seconds * 1000 && !stop.get()) {
            val due = t0 + k * LandEveryMs * 1000000L
            val wait = due - System.nanoTime()
            if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
            lateMs.add((System.nanoTime() - due) / 1e6)
            val h = lake.land(store.lakeDir)
            val e = new lake.Expect(h)
            landedTotal.put(h, e.total)
            landedAt.put(h, due)
            expectNow = e
            k += 1
          }
        } catch {
          case scala.util.control.NonFatal(e) => problems.add(s"generator: $e")
        }
      }
      threads += generator
      awaitHeight(query, backlogHead)
      val catchupS = (System.nanoTime() - t0) / 1e9

      // ---- 2. serve, beside the micro-batches that take the live blocks
      ledger.phase = "tail"
      val stream0 = ledger.snapshot("stream")
      val window0 = ledger.snapshot("tail")
      val openS = Time.s(problems.addAll(store.open(Seq("/v1/stats")).asJava): Unit)
      val cacheRev0 = store.cache.revalidations
      val stale0 = store.server.staleRetries
      val polls = new AtomicLong
      val pollFailed = new AtomicLong
      @volatile var servedTotal = -1L
      // Poller: closed loop on /api/v1/stats. Its total never decreases,
      // never exceeds what has landed, and the first response that
      // includes a block's donations marks that block visible.
      threads += daemon("perfbench-poller") {
        val c = new Client(store.port)
        while (!stop.get()) {
          val (code, body) =
            try c.get("/api/v1/stats", Map.empty)
            catch { case scala.util.control.NonFatal(e) => (599, e.toString) }
          val now = System.nanoTime()
          polls.incrementAndGet()
          if (code != 200) {
            pollFailed.incrementAndGet()
            problems.add(s"stats poll -> $code ${body.take(200)}")
          } else Mix.statsCount(body).foreach { n =>
            if (n < servedTotal) problems.add(s"stats total went back: $servedTotal -> $n")
            val landed = expectNow.total
            if (n > landed) problems.add(s"stats total $n exceeds landed $landed")
            servedTotal = math.max(servedTotal, n)
            landedTotal.forEach { (h, total) =>
              if (n >= total) visibleAt.putIfAbsent(h, now)
            }
          }
          Thread.sleep(PollThinkMs)
        }
      }
      generator.join()
      val expectEnd = expectNow

      // ---- 4. drain and settle
      val drainUntil = System.nanoTime() + 90000000000L
      while (servedTotal < expectEnd.total && System.nanoTime() < drainUntil) {
        require(query.isActive, s"stream stopped: ${query.exception}")
        Thread.sleep(20)
      }
      stop.set(true)
      threads.foreach(_.join())
      threads.clear()
      // The stats total turns visible when the beat swaps global_stats;
      // the batch commits after the rest of the beat.
      awaitHeight(query, expectEnd.height)
      query.stop()
      query = null
      ledger.phase = "settle"
      val settleS = Time.s(GoldRefresh.refresh(spark, store.silver): Unit)
      ledger.phase = "after"
      val c = new Client(store.port)
      val settled = Mix.statsCount(pollUntil(c, "/api/v1/stats",
        b => Mix.expectStat(b, "total_donations_count", expectEnd.total).isEmpty))
      if (!settled.contains(expectEnd.total))
        problems.add(s"settled stats total $settled, generator ${expectEnd.total}")
      // Sampled routes, exact against the generator's donation list:
      // envelope counts and an account's USD received.
      val rng = new scala.util.Random(seed)
      def sample[A](xs: Iterable[A]): A = { val v = xs.toSeq; v(rng.nextInt(v.size)) }
      val recipient = sample(expectEnd.received.keys.toSeq.sorted)
      val sender = sample(expectEnd.sent.keys.toSeq.sorted)
      val pot = sample(expectEnd.potDonations.keys.toSeq.sorted)
      Seq(s"/api/v1/accounts/$recipient/donations_received" -> expectEnd.received(recipient).size,
        s"/api/v1/accounts/$sender/donations_sent" -> expectEnd.sent(sender).size,
        s"/api/v1/pots/$pot/donations" -> expectEnd.potDonations(pot).size).foreach {
        case (path, n) =>
        Mix.expectCount(pollUntil(c, path, b => Mix.expectCount(b, n).isEmpty), n)
          .foreach(w => problems.add(s"settled $path: $w"))
      }
      val usd = expectEnd.receivedUsd(recipient)
      Mix.expectUsd(pollUntil(c, s"/api/v1/accounts/$recipient",
        b => Mix.expectUsd(b, "total_donations_in_usd", usd).isEmpty),
        "total_donations_in_usd", usd)
        .foreach(w => problems.add(s"settled account $recipient: $w"))

      // ---- metrics
      val lags = landedAt.asScala.toSeq.flatMap { case (h, due) =>
        Option(visibleAt.get(h)).map(v => (v - due) / 1e6)
      }
      if (lags.size < landedAt.size)
        problems.add(s"${landedAt.size - lags.size} of ${landedAt.size} blocks never became visible")
      val batches = ledger.batches.asScala.toSeq
      val live = batches.filter(_.fromHeight >= backlogHead)
      def perBatch(stages: Boolean): Double =
        if (live.isEmpty) 0.0
        else live.map(b => Option(ledger.batchWork.get(b.id)).map(p =>
          (if (stages) p._1 else p._2).sum.toDouble).getOrElse(0.0)).sum / live.size
      val e2e = Map(
        "setup_s" -> (prepareS + openS),
        "latency_p50_ms" -> Stats.median(lags),
        "ops_per_s" -> Backlog / catchupS)
      val window = Metrics.delta(ledger.snapshot("tail"), window0)
      // The stream stopped after the last block, so this is the share of
      // the micro-batches after the catch-up.
      val written = Metrics.delta(ledger.snapshot("stream"), stream0)
      val layers = mutable.Map[String, Double](
        "tail.batches" -> live.size.toDouble,
        "tail.batch_blocks" -> Stats.median(live.map(b => (b.toHeight - b.fromHeight).toDouble)),
        "tail.beat_batch_ms" -> Stats.median(live.map(_.durationMs.toDouble)),
        "tail.catchup_batch_ms" -> Stats.median(
          batches.filter(_.fromHeight < backlogHead).map(_.durationMs.toDouble)),
        "tail.backlog_blocks_max" ->
          live.map(b => b.toHeight - b.fromHeight).foldLeft(0L)(math.max).toDouble,
        "tail.stages_per_batch" -> perBatch(stages = true),
        "tail.tasks_per_batch" -> perBatch(stages = false),
        "tail.files_written" -> window("files_written").toDouble,
        "tail.mb_written" -> written("output_bytes") / 1048576.0,
        "tail.cache_revalidations" -> (store.cache.revalidations - cacheRev0).toDouble,
        "tail.stale_retries" -> (store.server.staleRetries - stale0).toDouble,
        "tail.gen_late_ms" -> Stats.median(lateMs.asScala.toSeq),
        "gold.settle_s" -> settleS,
        "setup.catchup_s" -> catchupS,
        "setup.prepare_s" -> prepareS,
        "setup.prewarm_s" -> store.prewarmS,
        "store.mb" -> store.storeBytes / 1048576.0)
      if (trace) {
        layers ++= InProcess.measure(store, ledger, new Mix(lake, expectEnd, seed * 31 + 7), problems)
        // The gold layer's work on this store, from one full rebuild.
        ledger.phase = "gold"
        val fullS = Time.s(GoldRefresh.refreshFull(spark, store.silver): Unit)
        ledger.phase = "after"
        val g = ledger.snapshot("gold")
        layers ++= Map("gold.full_s" -> fullS, "gold.jobs" -> g("jobs").toDouble,
          "gold.stages" -> g("stages").toDouble, "gold.tasks" -> g("tasks").toDouble,
          "gold.task_s" -> g("run_ms") / 1000.0, "gold.shuffle_mb" -> g("shuffle_bytes") / 1048576.0)
      }
      Outcome(problems.isEmpty, polls.get + landedAt.size, pollFailed.get, e2e, layers.toMap,
        problems.asScala.take(5).toSeq)
    } finally {
      stop.set(true)
      threads.foreach(_.join())
      if (query != null) query.stop()
      store.stop()
    }
  }

  private def daemon(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, name)
    t.setDaemon(true)
    t.start()
    t
  }

  /** GETs `path` until `ok` holds for the body or 20 s pass: a cached
    * body revalidates in the background after a swap. */
  private def pollUntil(c: Client, path: String, ok: String => Boolean): String = {
    val until = System.nanoTime() + 20000000000L
    var body = c.get(path, Map.empty)._2
    while (!ok(body) && System.nanoTime() < until) {
      Thread.sleep(100)
      body = c.get(path, Map.empty)._2
    }
    body
  }

  /** Blocks until the stream has committed a micro-batch ending at or
    * beyond `height` (LakeSource offsets are block heights). */
  private def awaitHeight(q: StreamingQuery, height: Long): Unit = {
    def done = q.recentProgress.exists(_.sources.headOption.exists(s =>
      Option(s.endOffset).flatMap(_.trim.toLongOption).exists(_ >= height)))
    while (!done) {
      require(q.isActive, s"stream stopped: ${q.exception}")
      Thread.sleep(20)
    }
  }
}
