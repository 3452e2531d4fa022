package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.{SparkEntry, SparkSpec}

/** Streaming-vs-batch parity on the sf0.001 events: each watermarked
  * operator runs as a real file-source stream (one time-range chunk file
  * per micro-batch, watermarks live), and its final output must be
  * row-identical (multiset, both directions) to the oracle-green
  * SparkEntry batch twin. Two far-future sentinel files, excluded from
  * every comparison, push the watermark past all real event time, so
  * every open window, session and hour closes through the watermark path.
  *
  *  - ooo: the chunks arrive pair-swapped (1,0,3,2,…) with a watermark
  *    delay that covers the induced two-chunk event-time regression: each
  *    watermark-tolerant operator is arrival-order invariant within its
  *    lateness horizon, not merely correct on sorted input.
  *  - late: a slice of the earliest chunk arrives after the watermark has
  *    passed it; the result equals the batch twin WITHOUT those rows.
  *  - resume: a durable parquet sink killed mid-run and restarted from
  *    its checkpoint equals the batch twin — no batch lost, none doubled.
  *  - in order: `sessionize`, the hand-written state machine, whose
  *    cross-batch contract is the in-order arrival production provides
  *    (ascending block heights), so it has no ooo case.
  */
@org.scalatest.tags.Slow
class StreamParitySpec extends SparkSpec {
  import spark.implicits._
  import StreamParitySpec.Stage

  private val SfDir = "/root/testdata/sf0.001"
  private val Chunks = 8
  private val Flush = "__flush"
  // Covers the pair-swap regression (asserted below); the ooo and late
  // sentinels sit a day past it.
  private val OooDelay = "10 days"
  private val OooDelayMs = 10L * 24 * 3600 * 1000
  private val OooSentinelHours = 264
  private val Mtime0 = 1700000000000L

  private val evSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  private def events: DataFrame =
    spark.read.schema(evSchema).parquet(s"$SfDir/events.parquet")

  private def batchQ(name: String): DataFrame =
    SparkEntry.queries(name)(spark, SfDir)

  private lazy val stage: Stage = {
    val work = tmpDir("stream-parity")
    val total = events.count()
    // Contiguous time ranges: chunk i holds the i-th eighth by (ts, id).
    val withChunk = events.withColumn("__chunk",
      (((row_number().over(Window.orderBy(col("ts"), col("event_id"))) - 1) *
        Chunks) / total).cast("int")).cache()
    // Each chunk's (min, max) event time in ms.
    val span: Map[Int, (Long, Long)] = withChunk.groupBy("__chunk")
      .agg(min(unix_millis(col("ts"))), max(unix_millis(col("ts"))))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val maxTsMs = span(Chunks - 1)._2
    def chunk(i: Int): DataFrame =
      withChunk.filter(col("__chunk") === i).drop("__chunk")

    val inOrder = s"$work/in_order"
    (0 until Chunks).foreach(i =>
      writeOneFile(chunk(i), Paths.get(inOrder, f"chunk-$i%02d.parquet"), i))
    writeSentinels(inOrder, Chunks, hoursOut = 48, maxTsMs)

    // Arrival 1,0,3,2,…: when chunk 2k arrives the watermark stands at
    // max(chunk 2k+1) − delay, so the delay must cover that regression
    // (plus the hour an hourly bucket starts before its first row).
    val regression = (0 until Chunks by 2).map(k => span(k + 1)._2 - span(k)._1).max
    assert(OooDelayMs > regression + 3600 * 1000L,
      s"the ooo delay must cover the pair-swap regression of ${regression}ms")
    val ooo = s"$work/ooo"
    Files.createDirectories(Paths.get(ooo))
    (0 until Chunks).map(i => if (i % 2 == 0) i + 1 else i - 1)
      .zipWithIndex.foreach { case (c, pos) =>
        val dst = Paths.get(ooo, f"chunk-$c%02d.parquet")
        Files.copy(Paths.get(inOrder, f"chunk-$c%02d.parquet"), dst)
        dst.toFile.setLastModified(Mtime0 + pos * 60000L)
      }
    writeSentinels(ooo, Chunks, OooSentinelHours, maxTsMs)

    // A slice of chunk 0 held back until after chunk 7: by then the
    // watermark (maxTs − delay) has passed every held-back hour.
    val lateIds = withChunk
      .filter(col("__chunk") === 0 && pmod(col("event_id"), lit(7)) === 0)
      .select("event_id").as[Long].collect().toSeq
    assert(lateIds.nonEmpty, "no held-back rows")
    assert(maxTsMs - OooDelayMs > span(0)._2 + 2 * 3600 * 1000L,
      "the held-back slice must be behind the watermark when it arrives")
    val late = s"$work/late"
    writeOneFile(chunk(0).filter(!col("event_id").isInCollection(lateIds)),
      Paths.get(late, "chunk-00.parquet"), 0)
    (1 until Chunks).foreach { i =>
      val dst = Paths.get(late, f"chunk-$i%02d.parquet")
      Files.copy(Paths.get(inOrder, f"chunk-$i%02d.parquet"), dst)
      dst.toFile.setLastModified(Mtime0 + i * 60000L)
    }
    writeOneFile(chunk(0).filter(col("event_id").isInCollection(lateIds)),
      Paths.get(late, "chunk-late.parquet"), Chunks)
    writeSentinels(late, Chunks + 1, OooSentinelHours, maxTsMs)
    withChunk.unpersist()
    Stage(inOrder, ooo, late, lateIds, maxTsMs)
  }

  /** Two sentinel files past `hoursOut` (beyond the case's watermark
    * delay): a pure-watermark row for the type/user operators plus
    * purchase/view rows. The second file gives the runtime a data-bearing
    * batch in which the first one's watermark fires every timeout. */
  private def writeSentinels(dir: String, pos0: Int, hoursOut: Int,
      maxTsMs: Long): Unit =
    Seq(0, 1).foreach { s =>
      val ts = new java.sql.Timestamp(maxTsMs + (hoursOut + 24 * s) * 3600000L)
      writeOneFile(
        Seq((-1L - 10 * s, ts, -1L, Flush, 0.0, null: String),
          (-2L - 10 * s, ts, -1L, "purchase", 0.0, null: String),
          (-3L - 10 * s, ts, -1L, "view", 0.0, null: String))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
        Paths.get(dir, s"chunk-9$s.parquet"), pos0 + s)
    }

  /** Writes `df` as ONE parquet file at `dest`, its modification time at
    * arrival position `pos` (the file source replays oldest first). */
  private def writeOneFile(df: DataFrame, dest: Path, pos: Int): Unit = {
    val tmp = tmpDir("sp-chunk")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.startsWith("part-")).get
    Files.createDirectories(dest.getParent)
    Files.move(part.toPath, dest)
    dest.toFile.setLastModified(Mtime0 + pos * 60000L): Unit
  }

  /** The real rows plus the watermark sentinel, one file per batch. */
  private def typed(dir: String): DataFrame =
    spark.readStream.schema(evSchema).option("maxFilesPerTrigger", 1)
      .parquet(dir).filter(col("event_id") >= 0 || col("event_type") === Flush)

  /** Runs a streaming frame to completion into a memory sink. */
  private def runStream(df: DataFrame, name: String): DataFrame = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(300000), s"$name did not drain")
    spark.table(name)
  }

  /** Row-level multiset identity, both directions. */
  private def assertSame(label: String, s: DataFrame, b: DataFrame): Unit = {
    val cols = s.columns.sorted.toSeq.map(col)
    val (ss, bb) = (s.select(cols: _*), b.select(cols: _*))
    val (ns, nb) = (ss.count(), bb.count())
    val extra = ss.exceptAll(bb).count()
    val missing = bb.exceptAll(ss).count()
    assert(ns > 0, s"$label: the stream emitted nothing")
    assert(ns == nb && extra == 0 && missing == 0,
      s"$label: stream=$ns batch=$nb extra=$extra missing=$missing")
  }

  /** The hourly-count columns, the hour as epoch micros. */
  private def hourly(df: DataFrame, hour: Column): DataFrame =
    df.select(unix_micros(hour).as("hus"), col("event_type"), col("n"),
      col("total_value"))

  private def w1: DataFrame =
    hourly(batchQ("q_w1_hourly_window"), col("hour").cast("timestamp"))

  /** Batch twin of the anomaly monitor's EWMA column: the ts3 recurrence
    * (e' = (x + 7e) div 8, truncating) replayed over ts2's hourly grid. */
  private def ewmaTwin(ts2: DataFrame): DataFrame = ts2
    .select(col("event_type"), col("hour").cast("timestamp").as("hour"),
      col("x"))
    .groupBy("event_type")
    .agg(sort_array(collect_list(struct(col("hour"), col("x")))).as("s"))
    .select(col("event_type"), explode(expr(
      """aggregate(s,
        |  cast(array() as array<struct<hour:timestamp,x:bigint,ewma8:bigint>>),
        |  (acc, e) -> array_append(acc, named_struct(
        |    'hour', e.hour, 'x', e.x,
        |    'ewma8', if(size(acc) = 0, e.x,
        |      (e.x + 7 * element_at(acc, -1).ewma8) div 8))))""".stripMargin))
      .as("r"))
    .select(col("event_type"), unix_micros(col("r.hour")).as("hus"),
      col("r.ewma8").as("ewma8"))

  test("ooo: hourly and sliding window counts are arrival-order invariant (≡ q_w1, q_w6)") {
    val h = runStream(
      EventAnalytics.hourlyTypeCounts(typed(stage.ooo), OooDelay), "sp_o_hourly")
    assertSame("ooo.hourlyTypeCounts",
      hourly(h.filter(col("event_type") =!= Flush), col("hour")), w1)

    val s = runStream(EventAnalytics.slidingTypeCounts(typed(stage.ooo),
      "1 hour", "15 minutes", OooDelay), "sp_o_sliding")
    def slid(df: DataFrame) = df.select(
      unix_micros(col("window_start")).as("wus"), col("event_type"), col("n"),
      col("total_value"))
    assertSame("ooo.slidingTypeCounts",
      slid(s.filter(col("event_type") =!= Flush)),
      slid(batchQ("q_w6_sliding_window")))
  }

  test("ooo: session_window counts ≡ q_w3; the anomaly monitor ≡ q_ts2 and its ts3 EWMA") {
    // Gap 24 h + 1 µs: session_window merges on strict < gap while the
    // batch sessionization splits on strict > 24 h.
    val sw = runStream(EventAnalytics.sessionWindowCounts(typed(stage.ooo),
      gap = "24 hours 1 microsecond", lateness = OooDelay), "sp_o_sesswin")
    assertSame("ooo.sessionWindowCounts",
      sw.filter(col("user_id") >= 0).select(col("user_id"),
        unix_micros(col("session_start")).as("start_us"),
        (unix_micros(col("session_end")) - lit(86400000001L)).as("last_us"),
        col("n_events")),
      batchQ("q_w3_sessionize").select(col("user_id"), col("start_us"),
        col("end_us").as("last_us"), col("n_events")))

    // Hours close in ascending order whatever the arrival order (the
    // watermark is monotonic), so ring and EWMA state walk the batch's
    // hour sequence.
    val ds = typed(stage.ooo).select(col("event_type"), col("ts"), col("value"))
      .as[EventAnalytics.ValEvent]
    val an = runStream(EventAnalytics.streamHourlyAnomaly(ds, OooDelay,
      minPriors = 12, ringSize = 24).toDF(), "sp_o_anomaly")
    val ts2 = batchQ("q_ts2_anomaly").cache()
    try assertSame("ooo.streamHourlyAnomaly",
      an.filter(col("event_type") =!= Flush).select(col("event_type"),
        unix_micros(col("hour")).as("hus"), col("x"), col("n_prior").as("n"),
        col("is_anomaly"), col("ewma8")),
      ts2.select(col("event_type"),
          unix_micros(col("hour").cast("timestamp")).as("hus"), col("x"),
          col("n"), col("is_anomaly"))
        .join(ewmaTwin(ts2), Seq("event_type", "hus")))
    finally ts2.unpersist(): Unit
  }

  test("ooo: trending terms ≡ the batch Misra-Gries summary; watermarked dedup ≡ batch distinct keys") {
    // Capacity 16 ≥ the 5 event types: the sketch is exact, so the
    // incremental per-batch merges must land on the one-shot summary.
    val tt = runStream(EventAnalytics.trendingTerms(typed(stage.ooo), "ts",
      "event_type", "1 hour", capacity = 16, lateness = OooDelay), "sp_o_trending")
    assertSame("ooo.trendingTerms",
      tt.filter(unix_millis(col("window_start")) <= stage.maxTsMs),
      events.groupBy(window(col("ts"), "1 hour"))
        .agg(graft.functions.FrequentItems.misraGries(col("event_type"), 16)
          .as("top_terms"))
        .select(col("window.start").as("window_start"), col("top_terms")))

    // A 60-day horizon covers the 30-day replay, so within-watermark
    // dedup is a global one: exactly one row per key, none re-emitted.
    // Which row survives among same-batch arrivals is order-dependent by
    // contract, so the emitted KEY multiset is compared.
    val dd = runStream(EventAnalytics.dedupWithinWatermark(typed(stage.ooo),
      "ts", "60 days", Seq("user_id", "event_type")), "sp_o_dedup")
    assertSame("ooo.dedupWithinWatermark",
      dd.filter(col("user_id") >= 0).select("user_id", "event_type"),
      events.select("user_id", "event_type").distinct())
  }

  test("late: rows arriving past the watermark are dropped exactly") {
    val out = runStream(
      EventAnalytics.hourlyTypeCounts(typed(stage.late), OooDelay), "sp_late")
    // The twin is the same operator body run as a batch query (the
    // watermark is a no-op there) over the corpus minus the late rows.
    val survivors = events.filter(!col("event_id").isInCollection(stage.lateIds))
    assertSame(s"late.hourlyTypeCounts (−${stage.lateIds.size} held back)",
      hourly(out.filter(col("event_type") =!= Flush), col("hour")),
      hourly(EventAnalytics.hourlyTypeCounts(survivors, OooDelay), col("hour")))
    // Non-vacuous: with the late rows kept, the counts would differ.
    assert(hourly(EventAnalytics.hourlyTypeCounts(events, OooDelay), col("hour"))
      .exceptAll(hourly(out, col("hour"))).count() > 0)
  }

  test("resume: a durable sink killed mid-run and restarted from its checkpoint ≡ q_w1") {
    val work = tmpDir("sp-resume")
    val (ckpt, sink) = (s"$work/ckpt", s"$work/sink")
    def commits(): Int = Option(new java.io.File(s"$ckpt/commits").listFiles())
      .map(_.count(_.getName.forall(_.isDigit))).getOrElse(0)
    def start() = EventAnalytics.hourlyTypeCounts(typed(stage.inOrder), "1 hour")
      .writeStream.format("parquet").option("path", sink)
      .option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    // Kill once half the batches have committed: the stop lands at a
    // batch boundary or inside the next batch, wherever it finds the run.
    val q1 = start()
    val deadline = System.nanoTime() + 300000000000L
    while (q1.isActive && commits() < Chunks / 2 && System.nanoTime() < deadline)
      Thread.sleep(5)
    q1.stop()
    val cut = commits()
    assert(start().awaitTermination(300000), "the restarted query did not drain")
    val total = commits()
    // A cut at 0 or at the end would restart nothing: the claim untested.
    assert(cut > 0 && cut < total, s"no mid-run cut: $cut of $total committed")
    assertSame(s"resume.hourlyTypeCounts (killed @batch $cut of $total)",
      hourly(spark.read.parquet(sink).filter(col("event_type") =!= Flush),
        col("hour")),
      w1)
  }

  test("in order: sessionize ≡ q_w3") {
    val ds = typed(stage.inOrder).select(col("user_id"), col("ts"),
      col("event_type")).as[EventAnalytics.Event]
    val out = runStream(
      EventAnalytics.sessionize(ds, 86400000L, "1 hour").toDF(), "sp_sessionize")
    val idx = Window.partitionBy("user_id").orderBy("session_start")
    assertSame("sessionize",
      out.filter(col("user_id") >= 0)
        .withColumn("session_idx", row_number().over(idx).cast("long"))
        .select(col("user_id"), col("session_idx"),
          col("n_events").cast("long").as("n_events"),
          unix_micros(col("session_start")).as("start_us"),
          unix_micros(col("session_end")).as("end_us"))
        .withColumn("duration_us", col("end_us") - col("start_us")),
      batchQ("q_w3_sessionize"))
  }
}

object StreamParitySpec {
  /** The three replay directories and the held-back event ids. */
  final case class Stage(inOrder: String, ooo: String, late: String,
      lateIds: Seq[Long], maxTsMs: Long)
}
