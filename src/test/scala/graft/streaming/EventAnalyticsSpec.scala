package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** Streaming analytics: windowed agg over a file stream matches the batch
  * equivalent; stateful sessionization splits on the inactivity gap. */
class EventAnalyticsSpec extends SparkSpec {
  import spark.implicits._
  import EventAnalytics._

  test("streaming hourly window agg equals batch date_trunc aggregation") {
    val src = graft.Tables(spark, "/root/testdata/sf0.001").events
      .select("event_id", "ts", "user_id", "event_type", "value")
    val dir = tmpDir("events-stream")
    src.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream
      .schema(src.schema)
      .parquet(dir)
    val q = hourlyTypeCounts(stream).writeStream
      .format("memory").queryName("hourly")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("hourly")
      .select(col("hour"), col("event_type"), col("n"))
    val batch = src
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch.select(col("hour"), col("event_type"), col("n"))).count() == 0)
  }

  test("streaming hopping windows equal the batch 4-windows-per-event expansion") {
    val src = graft.Tables(spark, "/root/testdata/sf0.001").events
      .select("event_id", "ts", "user_id", "event_type", "value")
    val dir = tmpDir("events-hop")
    src.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(src.schema).parquet(dir)
    val q = slidingTypeCounts(stream).writeStream
      .format("memory").queryName("hopping")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("hopping")
      .select(col("window_start"), col("event_type"), col("n"))
    // batch equivalent: the same window() expansion without a watermark
    val batch = src
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"))
    // every event lands in exactly 4 windows
    assert(streamed.agg(sum("n")).as[Long].head() == src.count() * 4)
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).count() == 0)
  }

  test("streaming trending terms: per-window Misra-Gries summary, exact when capacity suffices") {
    def ts(min: Int) = new java.sql.Timestamp(1718000000000L + min * 60000L)
    // hour 1: "alpha" dominates; hour 2: "beta" dominates
    val rows = (Seq.fill(6)("alpha") ++ Seq("gamma", "delta")).zipWithIndex
      .map { case (t, i) => (ts(i), t) } ++
      (Seq.fill(5)("beta") ++ Seq("gamma")).zipWithIndex
        .map { case (t, i) => (ts(70 + i), t) }
    val events = rows.toDF("ts", "term")
    val dir = tmpDir("trend-src")
    events.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(events.schema).parquet(dir)
    val q = EventAnalytics.trendingTerms(stream, "ts", "term",
        windowLength = "1 hour", capacity = 8)
      .writeStream.format("memory").queryName("trending")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val byWindow = spark.table("trending").collect().map { r =>
      r.getTimestamp(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(e => e.getString(0) -> e.getLong(1))
    }.toMap
    assert(byWindow.size == 2)
    val Seq(w1, w2) = byWindow.keys.toSeq.sortBy(_.getTime)
    // capacity 8 > distinct terms per window ⇒ exact counts, best-first
    assert(byWindow(w1).head == ("alpha" -> 6L))
    assert(byWindow(w1).toMap == Map("alpha" -> 6L, "gamma" -> 1L, "delta" -> 1L))
    assert(byWindow(w2).head == ("beta" -> 5L))
    assert(byWindow(w2).toMap == Map("beta" -> 5L, "gamma" -> 1L))
  }

  test("streaming dedup within watermark suppresses at-least-once replays") {
    def ts(min: Int) = new java.sql.Timestamp(1718000000000L + min * 60000L)
    val events = Seq(
      (1L, ts(0), "click"), (1L, ts(1), "click"), // same event_id replayed
      (2L, ts(2), "view"), (2L, ts(2), "view"),   // exact duplicate
      (3L, ts(3), "click")
    ).toDF("event_id", "ts", "event_type")
    val dir = tmpDir("dedup-src")
    events.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(events.schema).parquet(dir)
    val q = EventAnalytics.dedupWithinWatermark(stream, "ts", "10 minutes", Seq("event_id"))
      .writeStream.format("memory").queryName("deduped")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000))

    val out = spark.table("deduped").select("event_id").collect().map(_.getLong(0))
    assert(out.sorted.toSeq == Seq(1L, 2L, 3L)) // one row per event_id
  }

  test("stream-stream interval join: every in-range price candidate, none outside") {
    def ts(h: Int) = new java.sql.Timestamp(1718000000000L + h * 3600000L)
    val txs = Seq((1L, "tokA", ts(30), 100.0), (2L, "tokA", ts(50), 7.0),
      (3L, "tokB", ts(30), 5.0))
      .toDF("tx_id", "token_id", "ts", "amount")
    // tokA ticks at h=5 (outside 24h of h=30), h=10, h=29; tokB at h=28
    val prices = Seq(("tokA", ts(5), 1.0), ("tokA", ts(10), 2.0),
      ("tokA", ts(29), 3.0), ("tokB", ts(28), 4.0))
      .toDF("token_id", "price_ts", "price_usd")
    val (txDir, prDir) = (tmpDir("ssj-tx"), tmpDir("ssj-pr"))
    txs.write.mode("overwrite").parquet(txDir)
    prices.write.mode("overwrite").parquet(prDir)

    val q = streamIntervalEnrich(
        spark.readStream.schema(txs.schema).parquet(txDir),
        spark.readStream.schema(prices.schema).parquet(prDir))
      .writeStream.format("memory").queryName("ssj")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val got = spark.table("ssj")
      .select("tx_id", "price_ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1))).toSet
    // tx1 (tokA, h30): h10 + h29 in [h6, h30]; h5 is out of range.
    // tx2 (tokA, h50): h29 only. tx3 (tokB, h30): h28.
    assert(got == Set((1L, ts(10)), (1L, ts(29)), (2L, ts(29)), (3L, ts(28))))
  }

  test("stream-stream as-of enrichment picks the nearest at-or-before price") {
    def ts(h: Int) = new java.sql.Timestamp(1718000000000L + h * 3600000L)
    // flusher rows on BOTH streams push the watermark past the real data
    // so the append-mode aggregation emits the real groups.
    // tx 3 (tokC) has no price tick at all — must surface with null price
    val txs = Seq((1L, "tokA", ts(30), 100.0), (2L, "tokA", ts(50), 7.0),
      (3L, "tokC", ts(30), 5.0), (99L, "tokZ", ts(500), 0.0))
      .toDF("tx_id", "token_id", "ts", "amount")
    val prices = Seq(("tokA", ts(10), 2.0), ("tokA", ts(29), 3.0),
      ("tokA", ts(40), 9.0), ("tokZ", ts(500), 0.0))
      .toDF("token_id", "price_ts", "price_usd")
    val (txDir, prDir) = (tmpDir("asof-tx"), tmpDir("asof-pr"))
    txs.write.mode("overwrite").parquet(txDir)
    prices.write.mode("overwrite").parquet(prDir)

    val q = streamAsOfEnrich(
        spark.readStream.schema(txs.schema).parquet(txDir),
        spark.readStream.schema(prices.schema).parquet(prDir),
        lateness = "1 minute")
      .writeStream.format("memory").queryName("asof")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val got = spark.table("asof").filter(col("tx_id") < 99)
      .select("tx_id", "price_usd").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toMap
    // tx1 (h30): nearest at-or-before is h29 → 3.0 (h40 is in the future).
    // tx2 (h50): h40 → 9.0 (h29 is 21h back, also in range; max_by picks h40).
    // tx3 (tokC, no tick): kept by the left-outer join, null price.
    assert(got == Map(1L -> Some(3.0), 2L -> Some(9.0), 3L -> None))
  }

  test("session_window sessionization equals the batch session_window aggregation") {
    val src = graft.Tables(spark, "/root/testdata/sf0.001").events
      .select("event_id", "ts", "user_id", "event_type", "value")
    val dir = tmpDir("sessw-src")
    src.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(src.schema).parquet(dir)
    val q = sessionWindowCounts(stream, gap = "30 minutes").writeStream
      .format("memory").queryName("sessw")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("sessw")
    // batch equivalent: same declarative session_window, no watermark
    val batch = src
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"))
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).count() == 0)
    // and the window invariant: end = last event + gap ⇒ end - start ≥ gap
    val bad = streamed.filter(
      col("session_end").cast("long") - col("session_start").cast("long") <
        30L * 60).collect()
    assert(bad.isEmpty, s"session shorter than the gap floor: ${bad.toSeq}")
  }

  test("streaming anomaly monitor: spike flagged once priors suffice, EWMA folds") {
    val H0 = 1718064000000L // hour-aligned
    def ts(h: Int) = new java.sql.Timestamp(H0 + h * 3600000L)
    // 12 calm hours at $800, a $10,000 spike at h12, calm again at h13,
    // plus a far sentinel (h20) that drives the watermark past h13's
    // close (lateness 1h ⇒ watermark = h19).
    val events = ((0 to 11).map(h => ValEvent("a", ts(h), 800.0)) ++
      Seq(ValEvent("a", ts(12), 10000.0), ValEvent("a", ts(13), 800.0),
        ValEvent("a", ts(20), 1.0))).toDS()
    val dir = tmpDir("anom-src")
    events.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(events.schema).parquet(dir)
      .as[ValEvent]
    val q = streamHourlyAnomaly(stream).writeStream
      .format("memory").queryName("anom")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))

    val got = spark.table("anom").as[HourStat].collect()
      .sortBy(_.hour.getTime)
    // h0..h13 closed exactly once each; h20 stays open.
    assert(got.length == 14)
    assert(got.map(_.hour).toSeq == (0 to 13).map(ts))
    // Warm-up: fewer than 12 priors → no verdict, EWMA steady at 800.
    (0 to 11).foreach { h =>
      assert(got(h).is_anomaly.isEmpty && got(h).ewma8 == 800L &&
        got(h).n_prior == h.toLong)
    }
    // Spike: 12 constant priors → zero variance, any deviation flags;
    // EWMA folds to (10000 + 7·800) / 8 = 1950.
    assert(got(12).is_anomaly.contains(true) && got(12).x == 10000L &&
      got(12).ewma8 == 1950L && got(12).n_prior == 12L)
    // Return to calm is NOT anomalous (the spike inflated the variance).
    assert(got(13).is_anomaly.contains(false) && got(13).n_prior == 13L)
    assert(got(13).ewma8 == (800L + 7 * 1950L) / 8)
  }

  test("anomaly state machine: late rows for a closed hour are dropped") {
    val H0 = 1718064000000L
    val HOUR = 3600000L
    def ts(h: Int, min: Int = 0) =
      new java.sql.Timestamp(H0 + h * HOUR + min * 60000L)
    // Step 1: h0 accumulates while the watermark hasn't reached it
    // (batch-N rows are gated by the batch-(N−1) watermark)…
    val (st1a, out1a) = EventAnalytics.anomalyStep("b", None,
      Iterator(ValEvent("b", ts(0), 700.0), ValEvent("b", ts(0, 20), 100.0)),
      wm = 0L, minPriors = 12, ringSize = 24)
    assert(out1a.isEmpty && st1a.open == Map(H0 -> 80000L))
    // …and closes on the next step once the watermark passes its end.
    val (st1, out1) = EventAnalytics.anomalyStep("b", Some(st1a),
      Iterator.empty, wm = H0 + 4 * HOUR, minPriors = 12, ringSize = 24)
    assert(out1.map(s => (s.hour.getTime, s.x)) == Seq((H0, 800L)))
    assert(st1.ring == List((H0, 800L)) && st1.open.isEmpty)
    // Step 2: a replay for the closed h0 arrives late — dropped by the
    // closed-hour gate. An h2 row whose hour-end the eviction watermark
    // already passed (h2+1h ≤ wm=h7) but that Spark's late-events filter
    // (one batch behind) let through is kept: h2 was never closed, so it
    // closes in this same step, as a windowed aggregate evicts the window
    // its late-but-admitted row lands in. A fresh h8 row (ahead of the
    // watermark) accumulates normally.
    val (st2, out2) = EventAnalytics.anomalyStep("b", Some(st1),
      Iterator(ValEvent("b", ts(0, 30), 9999.0), ValEvent("b", ts(2), 111.0),
        ValEvent("b", ts(8), 50.0)),
      wm = H0 + 7 * HOUR, minPriors = 12, ringSize = 24)
    assert(out2.map(s => (s.hour.getTime, s.x)) == Seq((H0 + 2 * HOUR, 111L)))
    assert(st2.open == Map(H0 + 8 * HOUR -> 5000L))
    val (st3, out3) = EventAnalytics.anomalyStep("b", Some(st2),
      Iterator.empty, wm = H0 + 10 * HOUR, minPriors = 12, ringSize = 24)
    assert(out3.map(s => (s.hour.getTime, s.x)) == Seq((H0 + 8 * HOUR, 50L)))
    assert(st3.ring == List((H0 + 8 * HOUR, 50L), (H0 + 2 * HOUR, 111L),
      (H0, 800L)) && st3.open.isEmpty)
    // EWMA folded across the three closures: (111 + 7*800)/8 = 713, then
    // (50 + 7*713)/8 = 630.
    assert(st3.ewma.contains((50L + 7 * ((111L + 7 * 800L) / 8)) / 8))
  }

  test("sessionize: events split on inactivity gap, per user") {
    def ts(min: Int) = new java.sql.Timestamp(1718000000000L + min * 60000L)
    val events = Seq(
      Event(1, ts(0), "click"), Event(1, ts(10), "click"), // session A (gap 30m)
      Event(1, ts(60), "view"), Event(1, ts(65), "click"), // session B
      Event(2, ts(5), "view")
    ).toDS()
    val dir = tmpDir("sess-src")
    events.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(events.schema).parquet(dir).as[Event]
    val q = sessionize(stream, gapMs = 30 * 60000L).writeStream
      .format("memory").queryName("sessions")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    // Emitted: user 1's first session (closed by the next session's
    // arrival) AND user 2's session (event-time timeout: the watermark —
    // max event time t65 minus 10 min lateness — passed its t5+30min
    // deadline). User 1's second session stays open (deadline t95 is
    // beyond the watermark).
    val emitted = spark.table("sessions").as[Session].collect()
      .sortBy(_.user_id)
    assert(emitted.length == 2)
    assert(emitted(0).user_id == 1 && emitted(0).n_events == 2)
    assert(emitted(0).session_end.getTime - emitted(0).session_start.getTime == 10 * 60000L)
    assert(emitted(1).user_id == 2 && emitted(1).n_events == 1)
  }
}
